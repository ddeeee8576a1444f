"""Vectorized audio validation (pandas/Arrow UDFs; zero per-row driver Python).

Graft analog of the reference's arithmetic-consistency rule (INNOSITE
CHK_0002, innosite.py:263-312: recompute the expected value, compare with
tolerance). Here the "expected value" is the reference PCM decode
(functions/pcm.py) and the tolerance is the SNR>=30dB allclose gate from
BASELINE.json ``input_hint``.

Everything runs inside one scalar pandas UDF per Arrow batch: decode
(``np.frombuffer`` on int16), reference synthesis, SNR — the rule stays in
the same single scan as the row-local rules (it's just another projected
column), so the audio check adds NO extra pass over the table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_check_spark.functions.pcm import snr_db, synth_wave

# Column name the engine uses for the precomputed per-row SNR (written by the
# single wide-table pass in engine.run_validation, consumed by
# snr_column_violations so no rule ever re-reads the binary column).
SNR_COL = "_snr_db"


def prepare_clips(df: DataFrame, *, cap_ms: int = 100, with_snr: bool = True) -> DataFrame:
    """The engine's single wide pass as ONE mapInPandas stage.

    Reads every row (incl. the binary payload) exactly once, emits the same
    row minus ``bytes`` plus ``byte_len`` and the decoded-PCM SNR. Implemented
    with mapInPandas rather than a scalar pandas_udf deliberately: the
    ArrowEvalPython batch-join-back path degrades ~12x at local[32] when its
    output is materialized (measured 106s vs 8.6s for the identical work),
    while MapInPandas streams whole Arrow batches through cleanly.
    """
    out_fields = [f for f in df.schema.fields if f.name != "bytes"]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema += (
        f", byte_len long, {SNR_COL} double, clip_ratio double, rms_db double,"
        " freq_err_ratio double, silence_run_ms double"
    )
    keep = [f.name for f in out_fields]

    def run(batches):
        from data_check_spark.functions.pcm import (
            audio_features,
            max_quiet_run_ms,
            ref_freq,
        )

        for pdf in batches:
            n = len(pdf)
            byte_len = np.full(n, np.nan, dtype=np.float64)
            snr = np.full(n, np.nan, dtype=np.float64)
            clip_ratio = np.full(n, np.nan, dtype=np.float64)
            rms_arr = np.full(n, np.nan, dtype=np.float64)
            freq_err = np.full(n, np.nan, dtype=np.float64)
            silence_run = np.full(n, np.nan, dtype=np.float64)
            payloads = pdf["bytes"].to_numpy(dtype=object)
            cids = pdf["clip_id"].to_numpy(dtype=object)
            srs = pdf["sr_hz"].to_numpy(dtype=object)
            durs = pdf["dur_ms"].to_numpy(dtype=object)
            for i in range(n):
                b = payloads[i]
                if b is None:
                    continue
                byte_len[i] = len(b)
                sr, dur = srs[i], durs[i]
                if pd.isna(sr) or len(b) % 2 != 0:
                    continue
                decoded = np.frombuffer(b, dtype=np.int16)
                # Cheap per-row features are computed whenever the payload
                # decodes — NOT gated on with_snr: the clipping/silence/
                # frequency rules must still see them in a catalog that has
                # no (expensive) SNR rule.
                cr, rms, est = audio_features(decoded, int(sr))
                clip_ratio[i] = cr
                rms_arr[i] = rms if np.isfinite(rms) else -200.0
                silence_run[i] = max_quiet_run_ms(decoded, int(sr))
                expected = ref_freq(cids[i])
                nyquist = int(sr) / 2.0
                if decoded.size and expected > 0 and expected < nyquist:
                    freq_err[i] = abs(est - expected) / expected
                if not with_snr or pd.isna(dur):
                    continue
                ref = synth_wave(cids[i], int(sr), int(dur), cap_ms)
                val = snr_db(ref, decoded)
                snr[i] = val if np.isfinite(val) else (1e9 if val > 0 else -1e9)
            out = pdf[keep].copy()
            out["byte_len"] = byte_len
            out[SNR_COL] = snr
            out["clip_ratio"] = clip_ratio
            out["rms_db"] = rms_arr
            out["freq_err_ratio"] = freq_err
            out["silence_run_ms"] = silence_run
            yield out

    return df.mapInPandas(run, schema=schema)


def snr_column_violations(
    df: DataFrame,
    rule_id: str,
    *,
    snr_col: str = SNR_COL,
    snr_db_min: float = 30.0,
    gate: Column | None = None,
    id_col: str = "clip_id",
    partition_col: str | None = "partition",
) -> DataFrame:
    """Violations from an already-computed SNR column (no bytes access)."""
    scoped = df.filter(gate) if gate is not None else df
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    return (
        scoped.filter(F.col(snr_col).isNull() | (F.col(snr_col) < F.lit(snr_db_min)))
        .select(
            F.lit(rule_id).alias("rule_id"),
            F.col(id_col).cast("string").alias("clip_id"),
            part.alias("partition"),
            # %.2f (not a default double→string cast — CLAUDE.md) and a
            # null-safe coalesce: concat(NULL) would null out the whole
            # observed string for undecodable rows.
            F.concat(
                F.lit("snr_db="),
                F.coalesce(F.format_string("%.2f", F.col(snr_col)), F.lit("null")),
            ).alias("observed"),
        )
    )


def transcript_wer_violations(
    df: DataFrame,
    transcripts: DataFrame,
    rule_id: str,
    *,
    fact_key: str = "clip_id",
    dim_key: str = "clip_id",
    fact_text: str = "transcript",
    ref_text: str = "transcript_ref",
    max_wer_bp: int = 2500,
    partition_col: str | None = "partition",
) -> DataFrame:
    """WER-tolerance sibling of the ``transcript_match`` rule.

    Byte equality is the reference's contract (innosite transcript checks,
    run by ``referential.fused_dim_checks``);
    real ASR re-transcriptions legitimately differ by a few words, so this
    rule fires only when the exact word-level edit distance (in basis
    points of the reference length, ``text.word_edit_distance``) exceeds
    ``max_wer_bp``. Same join/blank conventions as transcript_match: only
    joined rows are judged (missing dim rows are the referential rule's
    job), blank fact keys exempt. Unevaluable pairs breach rather than silently pass (the
    ``agg_threshold`` NULL-metric convention): an empty reference with a
    non-empty hypothesis fires ``wer_bp=undefined_ref``, a pair whose
    combined vocabulary overflows the 255-word alphabet fires
    ``wer_bp=overflow``; both-empty pairs pass.
    """
    from data_check_spark.functions.blank import is_present
    from data_check_spark.operators.text import word_edit_distance

    dim = transcripts.select(F.col(dim_key).alias("_dk"), F.col(ref_text).alias("_ref_t"))
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    fact = df.filter(is_present(fact_key))
    joined = fact.join(dim, fact[fact_key] == F.col("_dk"), "inner").select(
        F.col(fact_key).cast("string").alias("clip_id"),
        part.alias("partition"),
        F.col("_ref_t").alias("ref_text"),
        F.col(fact_text).alias("hyp_text"),
    )
    wer = word_edit_distance(
        joined,
        id_col="clip_id",
        keep_cols=("partition",),
        threshold_bp=max_wer_bp,
    )
    return (
        wer.filter(
            (F.col("status") == "exceeds")
            | (F.col("status") == "vocab_overflow")
            | ((F.col("status") == "empty_ref") & (F.col("n_hyp_words") > 0))
        )
        .select(
            F.lit(rule_id).alias("rule_id"),
            "clip_id",
            "partition",
            F.concat(
                F.lit("wer_bp="),
                F.when(F.col("status") == "vocab_overflow", F.lit("overflow"))
                .when(F.col("status") == "empty_ref", F.lit("undefined_ref"))
                .otherwise(F.col("wer_bp").cast("string")),
            ).alias("observed"),
        )
    )
