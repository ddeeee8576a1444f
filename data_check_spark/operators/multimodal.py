"""Multimodal (image/audio/video) column plumbing for training pipelines.

Media payloads are opaque ``binary`` columns + typed metadata; all heavy
per-item work runs as Arrow-batched ``mapInPandas`` so nothing row-at-a-time
touches the driver. ``extract_features`` derives a deterministic stand-in
feature vector from the payload bytes — it exercises the full Spark contract
without codecs. P6 PPM images decode for real through the strict header +
raw-RGB parser (``_parse_p6``), which yields exact channel statistics
(``image_stats``).

Audio-PCM decode is NOT stubbed anywhere in this repo: the vectorized
decode/validate path lives in operators/audio.py (the mapInPandas wide
pass, SNR gate).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("partition", T.StringType(), True),
    ]
)

FEATURE_DIM = 16

_FEATURES_SCHEMA = (
    "media_id string, media_type string, ok boolean, error string, "
    "n_bytes long, feature array<float>"
)


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in feature vector: sha256-seeded, unit-normed."""
    digest = hashlib.sha256(payload).digest()
    n = FEATURE_DIM * 4
    raw = np.frombuffer((digest * (n // len(digest) + 1))[:n], dtype=np.uint32)
    vec = (raw.astype(np.float64) / np.iinfo(np.uint32).max) * 2.0 - 1.0
    norm = np.linalg.norm(vec)
    return (vec / norm if norm > 0 else vec).astype(np.float32)


def extract_features(media: DataFrame) -> DataFrame:
    """payload → (ok, error, n_bytes, feature[float]) via mapInPandas.

    Decode failures become rows with ``ok=false`` + error detail — the same
    "error is data, not an exception" convention as the rule engine
    (reference: per-row error capture, dekispart.py:1151-1157).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "ok": [],
                "error": [],
                "n_bytes": [],
                "feature": [],
            }
            for payload in pdf["payload"]:
                if payload is None or len(payload) == 0:
                    out["ok"].append(False)
                    out["error"].append("empty payload")
                    out["n_bytes"].append(0)
                    out["feature"].append(None)
                    continue
                try:
                    vec = _fake_decode(bytes(payload))
                    out["ok"].append(True)
                    out["error"].append(None)
                    out["n_bytes"].append(len(payload))
                    out["feature"].append(vec)
                except Exception as e:  # decode error -> data, not failure
                    out["ok"].append(False)
                    out["error"].append(f"{type(e).__name__}: {e}")
                    out["n_bytes"].append(len(payload))
                    out["feature"].append(None)
            yield pd.DataFrame(out)

    cols = media.select("media_id", "media_type", "payload")
    return cols.mapInPandas(run, schema=_FEATURES_SCHEMA)


def portable_media_df(docs: DataFrame) -> DataFrame:
    """Media fixture with ENGINE-PORTABLE synthesis (MEDIA_SCHEMA shape).

    Every derived field is md5-prefix arithmetic over an existing id column
    (the portable-hash family the MinHash/LSH oracles use), so a DuckDB
    oracle can recompute media_type / NULL-payload routing / n_bytes
    analytically and value-check ``extract_features``'s error-as-data
    contract end-to-end (queries.media_feature_extract). Payload text is
    ``blob_`` + a 5..32-char md5-hex prefix — pure ASCII, so byte length ==
    char length in both engines.
    """
    sid = F.col("doc_id").cast("string")
    hx = F.md5(F.encode(F.concat(sid, F.lit(":media")), "UTF-8"))
    h = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (h % 3 + 1).cast("int"),
    )
    payload_str = F.concat(F.lit("blob_"), hx.substr(F.lit(1), (F.lit(5) + h % 28).cast("int")))
    payload = F.when(h % 97 == 0, F.lit(None).cast("binary")).otherwise(
        F.encode(payload_str, "UTF-8")
    )
    return docs.select(
        F.concat(F.lit("m_"), sid).alias("media_id"),
        mtype.alias("media_type"),
        payload.alias("payload"),
        F.create_map(F.lit("dur_ms"), (h % 30000 + 500).cast("string")).alias("meta"),
        F.format_string("p%02d", (h % 16).cast("int")).alias("partition"),
    )


def _parse_p6(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Strict P6 (binary PPM) parser — stdlib-only image decoding.

    Accepts the canonical header ``P6 <w> <h> <maxval>`` with arbitrary
    whitespace between tokens and ONE whitespace byte before the raw
    ``3·w·h`` RGB payload (maxval ≤ 255 → 1 byte/channel). Comments and
    16-bit maxval are out of scope — undecodable payloads raise, and the
    callers turn that into NULL stats / ``ok=false`` rows (error-as-data).
    """
    if payload[:2] != b"P6":
        raise ValueError("not a P6 ppm")
    # tokenize the header: magic + 3 integers, single whitespace after maxval
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("bad ppm header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates header and raster
    w, h, maxval = tokens
    if not (w > 0 and h > 0 and 0 < maxval <= 255):
        raise ValueError(f"unsupported ppm geometry ({w}x{h}, maxval={maxval})")
    need = 3 * w * h
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError(f"truncated raster: {len(raster)} of {need} bytes")
    return w, h, maxval, np.frombuffer(raster, dtype=np.uint8)


def image_stats(df: DataFrame, *, keep: list[str] | None = None) -> DataFrame:
    """Integer-exact per-image stats from raw P6 PPM bytes — the image
    sibling of ``audio.pcm_stats``.

    Emits ``(width, height, maxval, n_pixels, sum_r, sum_g, sum_b)`` —
    exact int64 sufficient statistics (channel means / brightness /
    aspect checks are display transforms of these), so results
    hash-compare across engines and partitionings. Undecodable payloads
    (wrong magic, truncated raster, NULL) yield NULL stats, not a crash.

    One mapInPandas pass; the binary column dies here (same contract as
    the audio wide pass).
    """
    kept = keep if keep is not None else [
        f.name for f in df.schema.fields if f.name != "payload"
    ]
    emitted = ("width", "height", "maxval", "n_pixels", "sum_r", "sum_g", "sum_b")
    bad = [c for c in kept if c in emitted]
    if bad:
        raise ValueError(f"keep columns collide with emitted stats: {bad}")
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in kept
    )
    schema = (
        f"{fields}, width bigint, height bigint, maxval bigint, n_pixels bigint,"
        " sum_r bigint, sum_g bigint, sum_b bigint"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = len(pdf)
            cols: dict[str, list] = {c: [None] * m for c in emitted}
            payloads = pdf["payload"].to_numpy(dtype=object)
            for i in range(m):
                b = payloads[i]
                if b is None:
                    continue
                try:
                    w, h, maxval, rgb = _parse_p6(bytes(b))
                except ValueError:
                    continue
                px = rgb.reshape(-1, 3).astype(np.int64)
                cols["width"][i] = w
                cols["height"][i] = h
                cols["maxval"][i] = maxval
                cols["n_pixels"][i] = w * h
                cols["sum_r"][i], cols["sum_g"][i], cols["sum_b"][i] = (
                    int(px[:, 0].sum()), int(px[:, 1].sum()), int(px[:, 2].sum()),
                )
            out = pdf[kept].copy()
            for c in emitted:
                out[c] = pd.array(cols[c], dtype="Int64")
            yield out

    return df.mapInPandas(run, schema=schema)


def synth_ppm(df: DataFrame, *, keep: list[str] | None = None) -> DataFrame:
    """Deterministic P6 PPM synthesis from integer params — the image
    sibling of ``audio.synth_square_pcm``.

    Input columns ``(w, h, r_base, g_base, b_base)``; pixel ``m``'s channel
    ``c`` byte is ``c_base + (m % 16)`` (bases ≤ 200 so nothing wraps),
    which makes every channel sum an exact closed form the DuckDB oracle
    can state analytically: ``sum_c = w·h·c_base + S(w·h)`` with
    ``S(n) = (n div 16)·120 + r(r−1)/2, r = n mod 16``.
    """
    kept = keep if keep is not None else [
        f.name for f in df.schema.fields
    ]
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in kept
    )
    schema = f"{fields}, payload binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for w, h, rb, gb, bb in zip(
                pdf["w"], pdf["h"], pdf["r_base"], pdf["g_base"], pdf["b_base"]
            ):
                w, h = int(w), int(h)
                n = w * h
                grad = np.arange(n, dtype=np.uint8) % 16
                px = np.empty((n, 3), dtype=np.uint8)
                for c, base in enumerate((int(rb), int(gb), int(bb))):
                    px[:, c] = base + grad
                payloads.append(f"P6\n{w} {h}\n255\n".encode() + px.tobytes())
            out = pdf[kept].copy()
            out["payload"] = payloads
            yield out

    return df.mapInPandas(run, schema=schema)


def sniff_container(payload_col: str | Column) -> Column:
    """Magic-byte container detection over a binary column — pure JVM.

    Returns 'wav'|'flac'|'ogg'|'jpeg'|'png'|'ppm'|'mp3'|'mp4'|'unknown'
    (NULL payload → NULL). The media analog of the reference's encoding
    sniffing (data_check.py CSV charset fallback): at 100 TB the declared
    ``codec`` column is an assertion, not a fact — this reads the first 16
    bytes via ``substring``+``hex`` (column-pruned, whole-stage codegen, no
    Python) so a CODEC_HEADER_MISMATCH rule can cross-check it on scan.

    WAV requires BOTH the RIFF tag and the WAVE fourcc (other RIFF
    containers — WebP, AVI — fall through to unknown rather than
    misclassifying); MP4 is the ``ftyp`` brand at byte offset 4.
    """
    p = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    hx = F.hex(F.substring(p, 1, 16))  # uppercase hex of the first 16 bytes
    at9 = F.substring(hx, 9, 8)
    return (
        F.when(p.isNull(), F.lit(None).cast("string"))
        .when(hx.startswith("52494646") & (F.substring(hx, 17, 8) == "57415645"), "wav")
        .when(hx.startswith("664C6143"), "flac")
        .when(hx.startswith("4F676753"), "ogg")
        .when(hx.startswith("FFD8FF"), "jpeg")
        .when(hx.startswith("89504E470D0A1A0A"), "png")
        .when(hx.startswith("50360A") | hx.startswith("503620") | hx.startswith("503609"), "ppm")
        .when(hx.startswith("494433"), "mp3")
        .when(at9 == "66747970", "mp4")
        .otherwise("unknown")
    )
