"""Deterministic, distributed synthetic clip-table generator (FIXTURES.md §1-2).

Scale-first design: rows are derived from ``spark.range(n)`` with every column
a pure deterministic function of the row id (xxhash64 buckets) — generation is
embarrassingly parallel, reproducible at any SF without a driver-side loop,
and identical across parallelism levels (the scaling bench depends on that).
PCM payloads are synthesized in vectorized numpy via ``mapInPandas`` (Arrow
batches, no per-row Python).

Planted violations live in fixed hash buckets (per-mille ranges of
``xxhash64(id, 'viol') % 10000``) so expected violation sets are exactly
derivable — the graft analog of the reference's inline row fixtures
(reference: tests/test_chk_0005.py:8-23).

SF knob: rows = SF × 10^7 (sf0.001 ≈ 10k smoke, sf0.01 ≈ 100k correctness,
sf0.1 ≈ 1M bench) — a scale-down of the 10^12-clip design point.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_PARTITIONS = 128
HOT_PARTITION = "p0001"  # receives ~26x the median row count (skew fixture)
DRIFT_PARTITIONS = {f"p{i:04d}" for i in range(120, 128)}  # dur_ms shifted +8s
CODEC_MIX_PARTITIONS = {f"p{i:04d}" for i in range(116, 120)}  # codec mix 80% opus
CODECS = ["pcm_s16le", "flac", "opus", "mp3", "aac"]
SR_VALUES = [8000, 16000, 22050, 44100, 48000]
HOT_DUP_CLIP_ID = "clip_00000000deadbeef"

# Violation buckets: v = xxhash64(id, 'viol') % 10000 (≈0.05% per 5-wide band).
BUCKETS = {
    "dup_group": (0, 25),        # clip_id drawn from a 50-value pool → dup clusters
    "dup_hot": (25, 30),         # one hot duplicate key (skewed agg fixture)
    "id_null": (30, 35),
    "id_empty": (35, 40),
    "id_whitespace": (40, 45),
    "id_badchar": (45, 50),      # 'Z' in hex part
    "id_short": (50, 55),        # 8 hex digits instead of 16
    "id_space": (55, 60),        # embedded space
    "sr_zero": (60, 65),
    "sr_negative": (65, 70),
    "sr_offlist": (70, 75),      # 7000 Hz — valid int, not in whitelist
    "sr_null": (75, 80),
    "dur_zero": (80, 85),
    "dur_negative": (85, 90),
    "dur_huge": (90, 95),        # > 1h
    "codec_unknown": (95, 100),  # "wav?"
    "codec_empty": (100, 105),
    "codec_null": (105, 110),
    "codec_case": (110, 115),    # "FLAC" — wrong case
    "tr_null": (115, 120),
    "tr_blank": (120, 125),
    "tr_symbol": (125, 130),     # leading ★×▲■・ (reference: constants.py:138-151)
    "bytes_corrupt": (130, 140), # noise burst → SNR < 30dB
    "bytes_trunc": (140, 145),
    "bytes_empty": (145, 150),
    "dim_mismatch": (150, 160),  # transcript differs from transcripts dim
    "dim_missing": (160, 170),   # no row in transcripts dim (FK violation)
    "dur_null": (170, 175),
}


def _bucket(name: str) -> tuple[int, int]:
    return BUCKETS[name]


def _in(v, name: str):
    lo, hi = _bucket(name)
    return (v >= lo) & (v < hi)


def _hx(seed: str):
    """Deterministic 16-hex-digit string from the row id."""
    h = F.xxhash64(F.col("id"), F.lit(seed))
    # conv() interprets negative longs via two's complement when fromBase=-10;
    # abs() keeps it simple and uniform enough for synthetic ids.
    return F.lower(F.lpad(F.conv(F.abs(h).cast("string"), 10, 16), 16, "0"))


def _transcript_text():
    """Transcript shared between the fact table and the transcripts dim."""
    return F.concat(
        F.lit("音声クリップ "),
        _hx("clip"),
        F.lit(" の書き起こし sample "),
        F.pmod(F.xxhash64(F.col("id"), F.lit("text")), F.lit(1000)).cast("string"),
    )


def clips_df(spark: SparkSession, n_rows: int, *, with_bytes: bool = True, bytes_cap_ms: int = 100) -> DataFrame:
    """The synthetic fact table (CLIPS_SCHEMA shape)."""
    df = spark.range(n_rows)
    v = F.pmod(F.xxhash64(F.col("id"), F.lit("viol")), F.lit(10000))

    # --- partition: Zipf-ish skew. Buckets >= N_PARTITIONS fold into the hot
    # partition, giving it ~33/160 of all rows vs 1/160 median.
    pb = F.pmod(F.xxhash64(F.col("id"), F.lit("part")), F.lit(160))
    partition = F.when(pb >= N_PARTITIONS, F.lit(HOT_PARTITION)).otherwise(
        F.format_string("p%04d", pb.cast("int"))
    )

    # --- clip_id with planted malformations
    base_id = F.concat(F.lit("clip_"), _hx("clip"))
    # Independent 'dpool' seed (NOT 'viol': 50 | 10000 would collapse the pool
    # to the 25 reachable v values) and F.lower so pool ids 10-15 ('a'-'f')
    # stay CLIP_ID_FORMAT-clean — dup fixtures must exercise only uniqueness.
    dup_pool = F.concat(
        F.lit("clip_"),
        F.lpad(F.lower(F.conv(F.pmod(F.xxhash64(F.col("id"), F.lit("dpool")), F.lit(50)).cast("string"), 10, 16)), 16, "0"),
    )
    clip_id = (
        F.when(_in(v, "dup_group"), dup_pool)
        .when(_in(v, "dup_hot"), F.lit(HOT_DUP_CLIP_ID))
        .when(_in(v, "id_null"), F.lit(None).cast("string"))
        .when(_in(v, "id_empty"), F.lit(""))
        .when(_in(v, "id_whitespace"), F.lit("   "))
        .when(_in(v, "id_badchar"), F.concat(F.lit("clip_Z"), F.substring(_hx("clip"), 2, 15)))
        .when(_in(v, "id_short"), F.concat(F.lit("clip_"), F.substring(_hx("clip"), 1, 8)))
        .when(_in(v, "id_space"), F.concat(F.lit("clip_"), F.substring(_hx("clip"), 1, 8), F.lit(" "), F.substring(_hx("clip"), 10, 7)))
        .otherwise(base_id)
    )

    # --- sr_hz
    sr_ix = F.pmod(F.xxhash64(F.col("id"), F.lit("sr")), F.lit(len(SR_VALUES))) + 1
    base_sr = F.element_at(F.array(*[F.lit(s) for s in SR_VALUES]), sr_ix.cast("int"))
    sr_hz = (
        F.when(_in(v, "sr_zero"), F.lit(0))
        .when(_in(v, "sr_negative"), F.lit(-8000))
        .when(_in(v, "sr_offlist"), F.lit(7000))
        .when(_in(v, "sr_null"), F.lit(None).cast("int"))
        .otherwise(base_sr)
    ).cast("int")

    # --- dur_ms (drift partitions get a +8000ms location shift)
    base_dur = (F.pmod(F.xxhash64(F.col("id"), F.lit("dur")), F.lit(29800)) + 200).cast("int")
    drifted = F.when(
        partition.isin(*sorted(DRIFT_PARTITIONS)), base_dur + F.lit(8000)
    ).otherwise(base_dur)
    dur_ms = (
        F.when(_in(v, "dur_zero"), F.lit(0))
        .when(_in(v, "dur_negative"), F.lit(-5))
        .when(_in(v, "dur_huge"), F.lit(4_000_000))
        .when(_in(v, "dur_null"), F.lit(None).cast("int"))
        .otherwise(drifted)
    ).cast("int")

    # --- codec (codec-mix partitions skew the clean rows to 80% opus — the
    # categorical-drift fixture; the planted anomaly bands stay untouched so
    # CODEC_WHITELIST / CODEC_NOT_NULL counts are unaffected)
    c_ix = F.pmod(F.xxhash64(F.col("id"), F.lit("codec")), F.lit(len(CODECS))) + 1
    base_codec = F.element_at(F.array(*[F.lit(c) for c in CODECS]), c_ix.cast("int"))
    mix_skewed = F.when(
        partition.isin(*sorted(CODEC_MIX_PARTITIONS))
        & (F.pmod(F.xxhash64(F.col("id"), F.lit("cmix")), F.lit(10)) < 8),
        F.lit("opus"),
    ).otherwise(base_codec)
    codec = (
        F.when(_in(v, "codec_unknown"), F.lit("wav?"))
        .when(_in(v, "codec_empty"), F.lit(""))
        .when(_in(v, "codec_null"), F.lit(None).cast("string"))
        .when(_in(v, "codec_case"), F.lit("FLAC"))
        .otherwise(mix_skewed)
    )

    # --- transcript
    base_tr = _transcript_text()
    transcript = (
        F.when(_in(v, "tr_null"), F.lit(None).cast("string"))
        .when(_in(v, "tr_blank"), F.lit("  　 "))
        .when(_in(v, "tr_symbol"), F.concat(F.lit("★"), base_tr))
        .otherwise(base_tr)
    )

    out = df.select(
        F.col("id").alias("_gen_id"),
        v.alias("_viol"),
        clip_id.alias("clip_id"),
        sr_hz.alias("sr_hz"),
        dur_ms.alias("dur_ms"),
        codec.alias("codec"),
        transcript.alias("transcript"),
        partition.alias("partition"),
    )
    if with_bytes:
        out = attach_pcm_bytes(out, cap_ms=bytes_cap_ms)
    else:
        out = out.withColumn("bytes", F.lit(None).cast("binary"))
    return out.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript", "partition", "_gen_id", "_viol")


# ---------------------------------------------------------------------------
# PCM payloads — synthesized from row-visible fields via the shared
# "reference decoder" (functions/pcm.py), so the audio_decode rule can
# reconstruct the expected waveform without generator-private state.
# ---------------------------------------------------------------------------

def attach_pcm_bytes(df: DataFrame, cap_ms: int = 100) -> DataFrame:
    """Add the binary PCM column via mapInPandas (Arrow-batched numpy)."""
    from data_check_spark.functions.pcm import synth_wave

    lo_c, hi_c = BUCKETS["bytes_corrupt"]
    lo_t, hi_t = BUCKETS["bytes_trunc"]
    lo_e, hi_e = BUCKETS["bytes_empty"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            waves = [
                synth_wave(cid, None if pd.isna(sr) else int(sr), None if pd.isna(dur) else int(dur), cap_ms)
                for cid, sr, dur in zip(
                    pdf["clip_id"].to_numpy(dtype=object),
                    pdf["sr_hz"].to_numpy(dtype=object),
                    pdf["dur_ms"].to_numpy(dtype=object),
                )
            ]
            payloads = []
            for w, viol in zip(waves, pdf["_viol"].to_numpy()):
                if lo_e <= viol < hi_e:
                    payloads.append(b"")
                elif lo_t <= viol < hi_t:
                    payloads.append(w[: len(w) // 2].tobytes())
                elif lo_c <= viol < hi_c and len(w):
                    rng = np.random.default_rng(int(viol) + len(w))  # seeded → deterministic
                    noisy = w.astype(np.int32) + rng.integers(-20000, 20000, len(w))
                    payloads.append(np.clip(noisy, -32768, 32767).astype(np.int16).tobytes())
                else:
                    payloads.append(w.tobytes())
            pdf = pdf.assign(bytes=payloads)
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema += ", bytes binary"
    return df.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# Dimension tables (FIXTURES.md §2)
# ---------------------------------------------------------------------------

def transcripts_df(spark: SparkSession, n_rows: int) -> DataFrame:
    """Transcript reference dim keyed by clip_id.

    Rows whose fact-side bucket is ``dim_missing`` are withheld (FK violation);
    ``dim_mismatch`` rows carry altered text (byte-equality violation). Extra
    orphan rows (ids beyond n) exercise the reverse direction (reference
    analog: CHK_0060's semi∘anti composition, dekispart.py:968-988).
    """
    n_orphans = int(n_rows * 0.02)
    df = spark.range(n_rows + n_orphans)
    v = F.pmod(F.xxhash64(F.col("id"), F.lit("viol")), F.lit(10000))
    base_tr = _transcript_text()
    lo_m, hi_m = BUCKETS["dim_missing"]
    lo_x, hi_x = BUCKETS["dim_mismatch"]
    return (
        df.filter((F.col("id") >= n_rows) | (v < lo_m) | (v >= hi_m))
        .select(
            F.concat(F.lit("clip_"), _hx("clip")).alias("clip_id"),
            F.when((v >= lo_x) & (v < hi_x), F.concat(base_tr, F.lit(" [改訂]")))
            .otherwise(base_tr)
            .alias("transcript_ref"),
        )
    )

