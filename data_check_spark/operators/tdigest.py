"""Minimal t-digest (uniform/k0 scale function) for distribution sketching.

Pure numpy, driver- and executor-safe, byte-serializable so sketches can live
in a baseline-snapshot table (FIXTURES.md §2.3). The k0 (equal-weight
centroid) compression is sufficient for drift detection on interior
quantiles, which is what the drift rule compares; it keeps the merge
associative and the serialized form tiny (≤ max_centroids × 16 bytes).

No third-party sketch library is used — the container has none, and the
algorithm (cluster sorted values into weight-bounded centroids; merge =
concat + recompress) follows the published t-digest construction
(Dunning & Ertl, "Computing extremely accurate quantiles using t-digests").
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

DEFAULT_MAX_CENTROIDS = 128
_HEADER = struct.Struct("<qd")  # n_centroids, total_weight


@dataclass(frozen=True)
class TDigest:
    means: np.ndarray  # float64, sorted ascending
    weights: np.ndarray  # float64, > 0

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum()) if self.weights.size else 0.0

    def is_empty(self) -> bool:
        return self.means.size == 0


def from_values(values: np.ndarray, max_centroids: int = DEFAULT_MAX_CENTROIDS) -> TDigest:
    v = np.asarray(values, dtype=np.float64)
    v = v[~np.isnan(v)]
    if v.size == 0:
        return TDigest(np.empty(0), np.empty(0))
    v.sort()
    if v.size <= max_centroids:
        return TDigest(v.copy(), np.ones(v.size))
    # equal-weight clustering of the sorted values
    edges = np.linspace(0, v.size, max_centroids + 1).astype(np.int64)
    means = np.empty(max_centroids)
    weights = np.empty(max_centroids)
    for i in range(max_centroids):
        seg = v[edges[i] : edges[i + 1]]
        means[i] = seg.mean()
        weights[i] = seg.size
    return TDigest(means, weights)


def merge(digests: list[TDigest], max_centroids: int = DEFAULT_MAX_CENTROIDS) -> TDigest:
    nonempty = [d for d in digests if not d.is_empty()]
    if not nonempty:
        return TDigest(np.empty(0), np.empty(0))
    means = np.concatenate([d.means for d in nonempty])
    weights = np.concatenate([d.weights for d in nonempty])
    order = np.argsort(means, kind="mergesort")
    means, weights = means[order], weights[order]
    if means.size <= max_centroids:
        return TDigest(means, weights)
    # recompress: weight-balanced segments over the sorted centroid stream
    cum = np.cumsum(weights)
    total = cum[-1]
    targets = np.linspace(0, total, max_centroids + 1)[1:-1]
    cut = np.searchsorted(cum, targets, side="left")
    bounds = np.unique(np.concatenate(([0], cut + 1, [means.size])))
    out_m, out_w = [], []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        w = weights[lo:hi]
        out_m.append(float(np.average(means[lo:hi], weights=w)))
        out_w.append(float(w.sum()))
    return TDigest(np.asarray(out_m), np.asarray(out_w))


def quantile(d: TDigest, q: float) -> float:
    """Interpolated quantile at q ∈ [0,1] using centroid midpoints."""
    if d.is_empty():
        return float("nan")
    if d.means.size == 1:
        return float(d.means[0])
    total = d.total_weight
    target = q * total
    cum = np.cumsum(d.weights) - d.weights / 2.0  # centroid midpoints
    if target <= cum[0]:
        return float(d.means[0])
    if target >= cum[-1]:
        return float(d.means[-1])
    return float(np.interp(target, cum, d.means))


def wasserstein(a: TDigest, b: TDigest) -> float:
    """Wasserstein-1 (earth-mover) distance between two digests via the
    quantile-space identity ``W1 = ∫₀¹ |Q_a(u) − Q_b(u)| du``, midpoint
    Riemann sum on a 512-point mass grid. Quantile space (not x space)
    because the quantile functions are well-defined even when centroid means
    coincide (pure atoms), and the uniform mass grid weights every sliver of
    probability equally: a 1% flip across a wide atom gap contributes
    gap×0.01, a full location shift contributes the whole shift — unlike
    sup-norm quantile distance, which is knife-edged on atoms. Resolution:
    mass features narrower than 1/512 are under-weighted (irrelevant for
    drift thresholds ~0.25). NaN if either digest is empty."""
    if a.is_empty() or b.is_empty():
        return float("nan")
    u = (np.arange(512) + 0.5) / 512
    # vectorized quantile(): same centroid-midpoint convention, np.interp
    # clamps to the extreme centroid means just like the scalar version
    qa = np.interp(u * a.total_weight, np.cumsum(a.weights) - a.weights / 2.0, a.means)
    qb = np.interp(u * b.total_weight, np.cumsum(b.weights) - b.weights / 2.0, b.means)
    return float(np.mean(np.abs(qa - qb)))


def serialize(d: TDigest) -> bytes:
    body = np.concatenate([d.means, d.weights]).astype("<f8").tobytes()
    return _HEADER.pack(d.means.size, d.total_weight) + body


def deserialize(b: bytes) -> TDigest:
    n, _total = _HEADER.unpack_from(b)
    arr = np.frombuffer(b, dtype="<f8", offset=_HEADER.size)
    return TDigest(arr[:n].copy(), arr[n : 2 * n].copy())
