"""t-digest sketch: quantile accuracy, merge, serialization."""

import numpy as np

from data_check_spark.operators import tdigest as td


def test_quantile_accuracy_uniform():
    rng = np.random.default_rng(42)
    vals = rng.uniform(0, 1000, 50_000)
    d = td.from_values(vals, 128)
    for q in [0.1, 0.25, 0.5, 0.75, 0.9]:
        exact = np.quantile(vals, q)
        assert abs(td.quantile(d, q) - exact) < 15  # 1.5% of range


def test_merge_matches_whole():
    rng = np.random.default_rng(1)
    vals = rng.normal(100, 25, 40_000)
    whole = td.from_values(vals, 128)
    parts = [td.from_values(c, 128) for c in np.array_split(vals, 7)]
    merged = td.merge(parts, 128)
    for q in [0.1, 0.5, 0.9]:
        assert abs(td.quantile(merged, q) - td.quantile(whole, q)) < 3.0


def test_small_input_exact():
    d = td.from_values(np.array([1.0, 2.0, 3.0]), 128)
    assert td.quantile(d, 0.5) == 2.0
    assert d.total_weight == 3


def test_serde_roundtrip():
    d = td.from_values(np.random.default_rng(0).normal(0, 1, 10_000), 128)
    d2 = td.deserialize(td.serialize(d))
    assert np.allclose(d.means, d2.means)
    assert np.allclose(d.weights, d2.weights)


def test_empty():
    d = td.from_values(np.array([]))
    assert d.is_empty()
    assert np.isnan(td.quantile(d, 0.5))
    m = td.merge([d, td.from_values(np.array([5.0]))])
    assert td.quantile(m, 0.5) == 5.0


def test_nan_filtered():
    d = td.from_values(np.array([1.0, np.nan, 3.0]))
    assert d.total_weight == 2


def test_wasserstein_location_shift():
    # W1 between two digests of X and X+c is ~c
    rng = np.random.default_rng(7)
    vals = rng.normal(0, 100, 20_000)
    a = td.from_values(vals, 128)
    b = td.from_values(vals + 500, 128)
    assert abs(td.wasserstein(a, b) - 500) < 10
    assert td.wasserstein(a, a) == 0.0


def test_wasserstein_atom_flip_is_mass_weighted():
    # 1% of mass flipped across a 28100-wide gap: W1 ≈ 281, NOT ~28100
    a = td.from_values(np.array([16000.0] * 505 + [44100.0] * 495), 128)
    b = td.from_values(np.array([16000.0] * 495 + [44100.0] * 505), 128)
    assert 150 < td.wasserstein(a, b) < 450


def test_wasserstein_empty_is_nan():
    e = td.from_values(np.array([]))
    d = td.from_values(np.array([1.0, 2.0]))
    assert np.isnan(td.wasserstein(e, d))
    assert np.isnan(td.wasserstein(d, e))
