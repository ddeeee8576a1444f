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


def transcript_match_violations(
    df: DataFrame,
    transcripts: DataFrame,
    rule_id: str,
    *,
    fact_key: str = "clip_id",
    dim_key: str = "clip_id",
    fact_text: str = "transcript",
    ref_text: str = "transcript_ref",
    partition_col: str | None = "partition",
) -> DataFrame:
    """Byte-equality of the clip transcript vs the reference transcript dim.

    Missing dim rows are NOT flagged here (that's the referential rule);
    this rule fires for joined rows whose UTF-8 encodings differ, with a
    NULL on either side comparing as the empty string (the engine-wide
    blank coercion, ``blank.bytes_differ``) — so NULL vs '' is equal,
    NULL vs 'text' fires. Null-presence itself is the not_null family's
    job. Blank fact keys are exempt (same convention as every referential
    operator and the fused join path — a fresh run and a resume run must
    emit identical violations).
    """
    from data_check_spark.functions.blank import bytes_differ, is_present

    dim = transcripts.select(F.col(dim_key).alias("_dk"), F.col(ref_text).alias("_ref"))
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    fact = df.filter(is_present(fact_key))
    return (
        fact.join(dim, fact[fact_key] == F.col("_dk"), "inner")
        .filter(bytes_differ(F.col(fact_text), F.col("_ref")))
        .select(
            F.lit(rule_id).alias("rule_id"),
            F.col(fact_key).cast("string").alias("clip_id"),
            part.alias("partition"),
            F.substring(F.coalesce(F.col(fact_text), F.lit("<null>")), 1, 64).alias("observed"),
        )
    )


def transcript_alignment(
    segments: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Proportional transcript→audio alignment: a per-word time span.

    The CTC-segmentation stand-in a labeling pipeline needs before model
    inference exists: distribute each clip's transcript words over its
    VOICED timeline (``voiced_segments`` output) proportionally to word
    character length. Silence gaps are skipped exactly — a word interval is
    laid out in concatenated-voiced coordinates and then mapped back
    through the span table, so no word span ever covers a silence gap
    interior. Integer-exact: ``start = cum_chars_before·V div C`` (V total
    voiced samples, C total chars); boundary conventions are pinned
    (a start landing exactly on a span boundary opens the NEXT span, an
    end landing there closes the PREVIOUS one).

    Output one row per word: ``token_idx`` (0-based), ``token``,
    ``start_sample``, ``end_sample`` (absolute sample positions in the
    clip). Docs without tokens or without voiced spans emit nothing —
    alignment exists only where both modalities do.

    Plan shape: the token side is pure map-side JVM (prefix sums via the
    ``aggregate`` HOF — NO per-doc window, so no extra exchange for the
    cumsum); the span side folds to one row per clip (narrow collect_list
    aggregate); one equi-join keyed by ``id_col``; the per-token span
    lookup is an array ``filter`` over the clip's own spans.
    """
    spans = (
        segments.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("start_sample").cast("long").alias("abs_s"),
                        F.col("end_sample").cast("long").alias("abs_e"),
                    )
                )
            ).alias("_sp0")
        )
        .select(
            id_col,
            F.expr(
                "aggregate(_sp0,"
                " named_struct('vc', cast(0 as bigint),"
                "              'out', cast(array() as array<struct<vc:bigint,abs:bigint,n:bigint>>)),"
                " (acc, x) -> named_struct("
                "     'vc', acc.vc + (x.abs_e - x.abs_s),"
                "     'out', concat(acc.out, array(named_struct("
                "         'vc', acc.vc, 'abs', x.abs_s, 'n', x.abs_e - x.abs_s)))),"
                " acc -> acc.out)"
            ).alias("_spans"),
        )
        .withColumn(
            "_V",
            F.expr("element_at(_spans, -1).vc + element_at(_spans, -1).n"),
        )
        .filter(F.col("_V") > 0)
    )
    toks = (
        docs.select(
            F.col(id_col),
            F.expr(
                f"CASE WHEN {text_col} IS NULL OR trim({text_col}) = '' THEN array()"
                f" ELSE split(trim({text_col}), '\\\\s+') END"
            ).alias("_t"),
        )
        .filter(F.size("_t") > 0)
        .select(
            id_col,
            "_t",
            F.expr(
                "aggregate(_t, array(cast(0 as bigint)),"
                " (acc, x) -> concat(acc, array(element_at(acc, -1) + length(x))))"
            ).alias("_c"),
        )
        .select(
            id_col,
            F.expr("element_at(_c, -1)").alias("_C"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t)), i -> named_struct("
                    " 'idx', i - 1, 'tok', element_at(_t, i),"
                    " 'cb', element_at(_c, i), 'ce', element_at(_c, i + 1)))"
                )
            ).alias("_tk"),
        )
    )
    placed = (
        toks.join(spans, id_col)
        .withColumn("_s", F.expr("_tk.cb * _V div _C"))
        .withColumn("_e", F.expr("_tk.ce * _V div _C"))
    )
    start_sp = "element_at(filter(_spans, x -> x.vc <= _s), -1)"
    end_sp = "try_element_at(filter(_spans, x -> x.vc < _e), -1)"
    return placed.select(
        id_col,
        F.col("_tk.idx").cast("int").alias("token_idx"),
        F.col("_tk.tok").alias("token"),
        F.expr(f"{start_sp}.abs + (_s - {start_sp}.vc)").alias("start_sample"),
        F.coalesce(
            F.expr(f"{end_sp}.abs + (_e - {end_sp}.vc)"),
            F.expr("element_at(_spans, 1).abs"),  # zero-width token at t=0
        ).alias("end_sample"),
    )


def window_transcripts(
    windows: DataFrame,
    tokens: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Label each training window with its transcript slice.

    The last step of the Whisper-style pipeline: :func:`training_windows`
    plans fixed-size audio windows, :func:`transcript_alignment` places
    each word in time — this joins them so every window knows WHICH words
    it contains (``first_token_idx`` … ``last_token_idx``, the slice the
    training loader pairs with the audio span). A word counts as inside a
    window when their half-open spans overlap; zero-width words (possible
    when the voiced timeline is shorter than the transcript) count for the
    window containing their position. Windows with no words keep a row
    with ``n_tokens = 0`` and NULL indices — silent windows are data, not
    dropped rows.

    Plan shape: one equi-join keyed by ``id_col`` (the range predicate is
    a post-join filter inside the per-doc group — candidate volume is
    windows×words per clip, never cross-clip), then one hash aggregate
    back to window grain.
    """
    t = tokens.select(
        F.col(id_col).alias("_tid"),
        F.col("token_idx").alias("_tix"),
        F.col("start_sample").alias("_ts"),
        F.col("end_sample").alias("_te"),
    )
    cond = (windows[id_col] == t["_tid"]) & (
        ((t["_ts"] < windows["w_end"]) & (t["_te"] > windows["w_start"]))
        | (
            (t["_ts"] == t["_te"])
            & (t["_ts"] >= windows["w_start"])
            & (t["_ts"] < windows["w_end"])
        )
    )
    return (
        windows.join(t, cond, "left")
        .groupBy(id_col, "seg_idx", "window_idx", "w_start", "w_end")
        .agg(
            F.count("_tix").cast("long").alias("n_tokens"),
            F.min("_tix").cast("int").alias("first_token_idx"),
            F.max("_tix").cast("int").alias("last_token_idx"),
        )
    )


def window_density_screen(labeled: DataFrame) -> DataFrame:
    """QA screen over :func:`window_transcripts` output: token density per
    window. A window whose transcript slice is implausibly dense points at
    a broken alignment (wrong clip paired, silence mislabeled voiced);
    a zero-token window is surfaced as ``silent`` so downstream training
    can drop or keep it deliberately. ``density_pm`` is integer tokens per
    100k samples (``n_tokens·100000 div (w_end - w_start)`` — actual window
    length, which is shorter than ``window_samples`` for tail windows);
    statuses (``too_dense``: over 2000 per 100k):
    ``silent`` > ``too_dense`` > ``ok``. Pure projection — zero shuffle."""
    density = F.expr("n_tokens * 100000L div (w_end - w_start)")
    return labeled.select(
        "doc_id",
        "seg_idx",
        "window_idx",
        F.col("n_tokens"),
        density.cast("long").alias("density_pm"),
        F.when(F.col("n_tokens") == 0, F.lit("silent"))
        .when(density > 2000, F.lit("too_dense"))
        .otherwise(F.lit("ok"))
        .alias("status"),
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
    """WER-tolerance sibling of :func:`transcript_match_violations`.

    Byte equality is the reference's contract (innosite transcript checks);
    real ASR re-transcriptions legitimately differ by a few words, so this
    rule fires only when the exact word-level edit distance (in basis
    points of the reference length, ``text.word_edit_distance``) exceeds
    ``max_wer_bp``. Same join/blank conventions as transcript_match: inner
    join (missing dim rows are the referential rule's job), blank fact keys
    exempt. Unevaluable pairs breach rather than silently pass (the
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


def synth_square_pcm(df: DataFrame, *, offset_col: str | None = None) -> DataFrame:
    """Deterministic int16-LE square-wave payloads from per-row parameters.

    ``lead`` zero samples, then an ``offset ± amp`` square wave alternating
    sign every ``half_period`` samples (starting positive), as little-endian
    int16 bytes; ``offset_col`` is optional (default 0 — the historic
    symmetric wave) and lets a test plant ASYMMETRIC clipping (only the
    positive half-period reaches full scale). Caller keeps
    ``|offset| + amp ≤ 32767``. Chosen over a sine for test payloads because every stat a
    consumer computes from the BYTES has an exact integer closed form in
    (n, lead, amp, half_period) — which is what lets a SQL oracle
    value-check the real byte-decode path (:func:`pcm_stats`,
    queries.audio_stats_documents) without itself decoding audio.

    One mapInPandas stage; per-row numpy synthesis inside the Arrow batch
    (CLAUDE.md: per-row small arrays beat one concatenated array on this
    host, and variable-length payloads force a per-row loop anyway).
    """
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, bytes binary"

    def run(batches):
        for pdf in batches:
            payloads: list[bytes] = []
            offsets = pdf[offset_col] if offset_col else [0] * len(pdf)
            for n, lead, amp, k, o in zip(
                pdf["n"], pdf["lead"], pdf["amp"], pdf["k"], offsets
            ):
                n, lead, amp, k, o = int(n), int(lead), int(amp), max(int(k), 1), int(o)
                wave_len = max(n - lead, 0)
                j = np.arange(wave_len, dtype=np.int64)
                wave = np.where((j // k) % 2 == 0, o + amp, o - amp)
                x = np.concatenate([np.zeros(max(lead, 0), dtype=np.int64), wave])
                payloads.append(x.astype("<i2").tobytes())
            out = pdf.copy()
            out["bytes"] = payloads
            yield out

    return df.mapInPandas(run, schema=schema)


def synth_two_burst_pcm(df: DataFrame) -> DataFrame:
    """Square-wave payload with an interior silence gap (two bursts).

    Layout: ``lead`` zero samples, a ±``amp`` square burst of ``w1``
    samples, ``gap`` zeros, a second burst of ``w2`` samples. The sibling
    of :func:`synth_square_pcm` for exercising SEGMENTATION: a single
    burst can never split into two voiced runs, so the closed-form oracle
    for :func:`voiced_segments` needs a fixture whose silence boundaries
    are analytic in the parameters. Same int16-LE contract.
    """
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, bytes binary"

    def burst(w: int, amp: int, k: int) -> np.ndarray:
        j = np.arange(max(w, 0), dtype=np.int64)
        return np.where((j // k) % 2 == 0, amp, -amp)

    def run(batches):
        for pdf in batches:
            payloads: list[bytes] = []
            for lead, w1, gap, w2, amp, k in zip(
                pdf["lead"], pdf["w1"], pdf["gap"], pdf["w2"],
                pdf["amp"], pdf["k"],
            ):
                lead, w1, gap, w2 = int(lead), int(w1), int(gap), int(w2)
                amp, k = int(amp), max(int(k), 1)
                x = np.concatenate([
                    np.zeros(max(lead, 0), dtype=np.int64),
                    burst(w1, amp, k),
                    np.zeros(max(gap, 0), dtype=np.int64),
                    burst(w2, amp, k),
                ])
                payloads.append(x.astype("<i2").tobytes())
            out = pdf.copy()
            out["bytes"] = payloads
            yield out

    return df.mapInPandas(run, schema=schema)


def _frame_energies(payload, W: int):
    """Shared framed-decode step for the segmentation/fingerprint family:
    int16-LE decode, zero-pad to the ceil frame, per-frame int64 energy.
    Returns (n_samples, energies) or None for undecodable payloads
    (NULL / odd-length / empty) — each caller routes those per its own
    contract (no rows vs NULL stats)."""
    if payload is None or len(payload) % 2 != 0 or len(payload) == 0:
        return None
    x = np.frombuffer(payload, dtype="<i2").astype(np.int64)
    n = x.size
    nf = -(-n // W)
    padded = np.zeros(nf * W, dtype=np.int64)
    padded[:n] = x
    return n, (padded * padded).reshape(nf, W).sum(axis=1)


def _guard_emitted(kept: list[str], emitted: tuple[str, ...], op: str) -> None:
    clobbered = set(kept) & set(emitted)
    if clobbered:
        raise ValueError(
            f"input column(s) {sorted(clobbered)} collide with {op}'s output "
            f"columns {list(emitted)}; rename or drop them first"
        )


def voiced_segments(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    frame_samples: int = 64,
    min_energy: int = 1,
    keep: list[str] | None = None,
) -> DataFrame:
    """Voiced-segment extraction (VAD-lite) over framed int16 PCM.

    The curation stage between ingest and transcription: split each clip
    into fixed ``frame_samples`` windows (the tail partial window counts),
    mark a window voiced when its energy (sum of squared samples, exact
    int64) >= ``min_energy``, and emit one row per MAXIMAL voiced run —
    (seg_idx, start_frame, end_frame inclusive, start_sample,
    end_sample = min(n, (end_frame+1)·frame), n_frames, energy of the
    run). Silence shorter than one full frame does not split a run.

    All-zero, empty, NULL and odd-length (undecodable) payloads emit no
    rows — a validation rule flags undecodables upstream; this operator's
    contract is "segments that exist". One mapInPandas pass, integer
    arithmetic end-to-end (cross-engine exact); the binary dies here.
    Fan-out is #segments per clip — output rows replicate the kept
    columns, never the payload.
    """
    if frame_samples < 1:
        raise ValueError(f"frame_samples must be >= 1, got {frame_samples}")
    kept = keep if keep is not None else [
        f.name for f in df.schema.fields if f.name != bytes_col
    ]
    emitted = ("seg_idx", "start_frame", "end_frame", "start_sample",
               "end_sample", "n_frames", "energy")
    _guard_emitted(kept, emitted, "voiced_segments")
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in kept
    )
    schema = (
        f"{fields}, seg_idx int, start_frame bigint, end_frame bigint,"
        " start_sample bigint, end_sample bigint, n_frames bigint, energy bigint"
    )
    W = frame_samples

    def run(batches):
        for pdf in batches:
            rows_idx: list[int] = []
            segs: list[tuple[int, int, int, int]] = []  # (seg_idx, s, e, energy)
            sizes: list[int] = []
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for i in range(len(pdf)):
                decoded = _frame_energies(payloads[i], W)
                if decoded is None:
                    continue
                n, fe = decoded
                voiced = (fe >= min_energy).astype(np.int8)
                edges = np.flatnonzero(np.diff(np.concatenate([[0], voiced, [0]])))
                for si, (s, e) in enumerate(zip(edges[0::2], edges[1::2] - 1)):
                    rows_idx.append(i)
                    sizes.append(n)
                    segs.append((si, int(s), int(e), int(fe[s:e + 1].sum())))
            out = pdf.iloc[rows_idx][kept].reset_index(drop=True)
            out["seg_idx"] = pd.array([s[0] for s in segs], dtype="int32")
            out["start_frame"] = pd.array([s[1] for s in segs], dtype="int64")
            out["end_frame"] = pd.array([s[2] for s in segs], dtype="int64")
            out["start_sample"] = pd.array([s[1] * W for s in segs], dtype="int64")
            out["end_sample"] = pd.array(
                [min(n, (s[2] + 1) * W) for n, s in zip(sizes, segs)], dtype="int64"
            )
            out["n_frames"] = pd.array([s[2] - s[1] + 1 for s in segs], dtype="int64")
            out["energy"] = pd.array([s[3] for s in segs], dtype="int64")
            yield out

    return df.mapInPandas(run, schema=schema)


def audio_fingerprint(
    df: DataFrame,
    *,
    bytes_col: str = "bytes",
    frame_samples: int = 64,
    keep: list[str] | None = None,
) -> DataFrame:
    """Gain-invariant acoustic fingerprint for audio deduplication.

    Audio corpora carry duplicates the byte-level md5 misses: the same
    recording re-encoded at a different volume. This fingerprints the
    ENERGY SHAPE instead of the bytes: per ``frame_samples`` window the
    int64 energy e_f, quantized against the clip's loudest frame as
    q_f = (16·e_f) // e_max. The division is exact under any common
    scale factor — x → c·x multiplies every e_f and e_max by c², and
    floor(a·c²/(b·c²)) ≡ floor(a/b) — so an integer-gain copy produces
    the IDENTICAL profile, bit-for-bit, on every engine. Emits
    (n_frames, profile = comma-joined q_f, fingerprint = md5(profile));
    dedup = group/join on ``fingerprint`` (128 bits shuffle, never the
    profile or the audio — same shape as text exact-dedup,
    operators/dedup.py). All-silent clips quantize to an all-zero
    profile; NULL/odd-length (undecodable) payloads get NULL stats
    rather than dropping the row (consumers join back by id). One
    mapInPandas pass; the binary dies here.
    """
    if frame_samples < 1:
        raise ValueError(f"frame_samples must be >= 1, got {frame_samples}")
    kept = keep if keep is not None else [
        f.name for f in df.schema.fields if f.name != bytes_col
    ]
    _guard_emitted(kept, ("n_frames", "profile", "fingerprint"), "audio_fingerprint")
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in kept
    )
    schema = f"{fields}, n_frames bigint, profile string, fingerprint string"
    W = frame_samples

    def run(batches):
        import hashlib

        for pdf in batches:
            m = len(pdf)
            nf_s: list[int | None] = [None] * m
            prof_s: list[str | None] = [None] * m
            fp_s: list[str | None] = [None] * m
            payloads = pdf[bytes_col].to_numpy(dtype=object)
            for i in range(m):
                decoded = _frame_energies(payloads[i], W)
                if decoded is None:
                    continue
                _, fe = decoded
                nf = fe.size
                e_max = int(fe.max())
                q = (16 * fe) // e_max if e_max > 0 else np.zeros(nf, dtype=np.int64)
                profile = ",".join(str(int(v)) for v in q)
                nf_s[i] = nf
                prof_s[i] = profile
                fp_s[i] = hashlib.md5(profile.encode()).hexdigest()
            out = pdf[kept].copy()
            out["n_frames"] = pd.array(nf_s, dtype="Int64")
            out["profile"] = prof_s
            out["fingerprint"] = fp_s
            yield out

    return df.mapInPandas(run, schema=schema)


def speech_rate(df: DataFrame, *, min_mtps: int = 1_000, max_mtps: int = 6_000) -> DataFrame:
    """Transcript↔audio speech-rate consistency (cross-modal QC screen).

    The standard ASR-corpus sanity check: a transcript whose token count is
    implausible for the clip's VOICED duration signals a mispaired or
    hallucinated transcript (too fast) or untranscribed speech (too slow /
    zero tokens). Consumes columns that upstream stages already produced —
    whitespace token count (text.token_stats), voiced sample count
    (sum over :func:`voiced_segments` spans) and the sample rate — so it is
    a pure JVM projection: no UDF, no shuffle, no re-decode of audio.

    Adds ``rate_mtps`` (milli-tokens per voiced second, exact integer
    ``tokens·sr·1000 div voiced_samples`` — truncating div ≡ flooring ``//``
    because every operand is non-negative, so the value hash-compares across
    engines) and ``status``:

    - ``empty``         no tokens AND no voiced audio (nothing to check)
    - ``no_audio``      tokens present but voiced/sr NULL or no voiced span
      (undecodable or all-silent clip — the transcript claims speech)
    - ``untranscribed`` voiced audio present but zero tokens
    - ``too_fast`` / ``too_slow`` / ``ok``  rate vs [min_mtps, max_mtps]

    NULL token counts coerce to 0 (missing transcript = empty transcript,
    the engine-wide blank coercion). Defaults bound normal speech at
    1-6 tokens/sec; callers tune per corpus.
    """
    if min_mtps > max_mtps:
        raise ValueError(f"min_mtps {min_mtps} > max_mtps {max_mtps}")
    toks = F.coalesce(F.col("n_tokens").cast("bigint"), F.lit(0))
    voiced = F.col("voiced_samples").cast("bigint")
    sr = F.col("sr_hz").cast("bigint")
    has_audio = voiced.isNotNull() & (voiced > 0) & sr.isNotNull() & (sr > 0)
    rate = F.when(
        has_audio, F.expr(
            "(coalesce(cast(n_tokens as bigint), 0)"
            " * cast(sr_hz as bigint) * 1000)"
            " div cast(voiced_samples as bigint)"
        )
    )
    status = (
        F.when(~has_audio & (toks == 0), F.lit("empty"))
        .when(~has_audio, F.lit("no_audio"))
        .when(toks == 0, F.lit("untranscribed"))
        .when(rate > F.lit(max_mtps), F.lit("too_fast"))
        .when(rate < F.lit(min_mtps), F.lit("too_slow"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumn("rate_mtps", rate).withColumn("status", status)


def pcm_stats(df: DataFrame, *, keep: list[str] | None = None) -> DataFrame:
    """Integer-exact per-clip QC stats decoded from raw int16-LE PCM bytes.

    Emits (n_samples, lead_silence, peak_abs, dc_sum, energy,
    n_zero_cross) — the raw
    int64 sufficient statistics behind the usual audio QC screens: silence
    padding (lead_silence), DC offset (dc_sum / n_samples), digital
    clipping / true peak (peak_abs), RMS loudness (rms_dbfs =
    10·log10(energy/n_samples) − 20·log10(32767) is a pure display
    transform of these columns), and zero-crossing count (n_zero_cross:
    sign changes between consecutive samples — the classic pitch /
    noisiness proxy; zero-valued samples break a crossing, so silence
    never counts). Exact integer arithmetic end-to-end so
    results hash-compare across engines, runs, and partitionings — floats
    would reintroduce summation-order hazards (see queries.py portability
    rules). NULL or odd-length payloads (undecodable as int16) yield NULL
    stats rather than a crash; ``abs`` runs on an int64 copy (the int16
    ``abs(-32768)`` overflow trap — peak_abs of a full-scale-negative
    sample is 32768, not -32768).

    ``keep``: passthrough columns (default: everything but ``bytes`` —
    like the engine's wide pass, the binary column dies here).
    """
    kept = keep if keep is not None else [f.name for f in df.schema.fields if f.name != "bytes"]
    _guard_emitted(
        kept,
        ("n_samples", "lead_silence", "peak_abs", "dc_sum", "energy", "n_zero_cross"),
        "pcm_stats",
    )
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in kept
    )
    schema = (
        f"{fields}, n_samples bigint, lead_silence bigint, peak_abs bigint,"
        " dc_sum bigint, energy bigint, n_zero_cross bigint"
    )

    def run(batches):
        for pdf in batches:
            m = len(pdf)
            n_s: list[int | None] = [None] * m
            lead_s: list[int | None] = [None] * m
            peak_s: list[int | None] = [None] * m
            dc_s: list[int | None] = [None] * m
            en_s: list[int | None] = [None] * m
            zc_s: list[int | None] = [None] * m
            payloads = pdf["bytes"].to_numpy(dtype=object)
            for i in range(m):
                b = payloads[i]
                if b is None or len(b) % 2 != 0:
                    continue
                x = np.frombuffer(b, dtype="<i2").astype(np.int64)
                nz = np.flatnonzero(x)
                n_s[i] = x.size
                lead_s[i] = int(nz[0]) if nz.size else x.size
                peak_s[i] = int(np.abs(x).max()) if x.size else 0
                dc_s[i] = int(x.sum())
                en_s[i] = int((x * x).sum())
                zc_s[i] = int(np.count_nonzero(x[:-1] * x[1:] < 0)) if x.size else 0
            out = pdf[kept].copy()
            out["n_samples"] = pd.array(n_s, dtype="Int64")
            out["lead_silence"] = pd.array(lead_s, dtype="Int64")
            out["peak_abs"] = pd.array(peak_s, dtype="Int64")
            out["dc_sum"] = pd.array(dc_s, dtype="Int64")
            out["energy"] = pd.array(en_s, dtype="Int64")
            out["n_zero_cross"] = pd.array(zc_s, dtype="Int64")
            yield out

    return df.mapInPandas(run, schema=schema)


def training_windows(
    segments: DataFrame,
    *,
    window_samples: int,
    min_samples: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Tile voiced segments into fixed-size training windows (the
    Whisper-style "cut speech into ≤30 s pieces" planning stage).

    Input is a :func:`voiced_segments` frame (``start_sample`` /
    ``end_sample`` half-open); each segment is tiled into consecutive
    ``window_samples`` windows from its start, and a partial tail window
    survives only if it holds ≥ ``min_samples`` samples (shorter tails are
    training noise). Output one row per window:
    ``(id, seg_idx, window_idx, w_start, w_end, n_samples)`` with
    ``window_idx`` 0-based within its segment.

    This is a PLAN, not a byte shuffle: emitting (clip, offset) spans and
    letting the training loader slice bytes at read time avoids rewriting
    the 100 TB payload column. Pure JVM projection + explode — zero
    Python, zero shuffle, fan-out = segment length / window size.
    """
    if window_samples < 1:
        raise ValueError(f"window_samples must be >= 1, got {window_samples}")
    if not 1 <= min_samples <= window_samples:
        raise ValueError(
            f"need 1 <= min_samples <= window_samples, got {min_samples}"
        )
    W = window_samples
    starts = F.sequence(
        F.col("start_sample"), F.col("end_sample") - 1, F.lit(W).cast("long")
    )
    return (
        segments.select(
            F.col(id_col), "seg_idx", "start_sample", "end_sample",
            F.explode(starts).alias("_ws"),
        )
        .select(
            id_col,
            "seg_idx",
            F.expr(f"(_ws - start_sample) div {W}").cast("long").alias("window_idx"),
            F.col("_ws").alias("w_start"),
            F.least(F.col("_ws") + W, F.col("end_sample")).alias("w_end"),
        )
        .withColumn("n_samples", F.col("w_end") - F.col("w_start"))
        .filter(F.col("n_samples") >= min_samples)
    )


def autocorr_lags(df: DataFrame, *, keep: list[str] | None = None) -> DataFrame:
    """Integer autocorrelation r(τ) = Σ x[i]·x[i+τ] at caller-chosen lags —
    the classic periodicity / pitch / mains-hum screen over int16 PCM.

    One row out per (clip, lag): ``lag``, ``n_samples``, ``r0`` (= energy,
    the τ=0 term), ``r_lag``, and ``ratio_bp = (r_lag·10⁴) div r0`` — the
    normalized autocorrelation in basis points, +10⁴ at a perfect period,
    ≈−10⁴ at antiphase (τ = half period). Candidate lags are data (an
    ``array<bigint>`` column), so per-row expected periods — sr/50 and
    sr/60 for hum, the annotated f0 for tone checks — need no reshuffle.

    All arithmetic is exact int64 (max |x|=32768 ⇒ |r| ≤ n·2³⁰; the 100 TB
    clip cap keeps n ≪ 2³³), so results hash-compare across engines; the
    ratio divide truncates toward zero (Spark ``div`` ≡ DuckDB ``//``).
    NULL / odd-length payloads emit NULL stats per lag (error-as-data);
    lag ≤ 0 emits NULL r; lag ≥ n emits r = 0 (empty sum). One
    mapInPandas stage; per-row numpy inside the Arrow batch (CLAUDE.md:
    per-row small arrays beat one concatenated array on this host).
    """
    kept = (
        keep
        if keep is not None
        else [f.name for f in df.schema.fields if f.name not in ("bytes", "lags")]
    )
    _guard_emitted(kept, ("lag", "n_samples", "r0", "r_lag", "ratio_bp"), "autocorr_lags")
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in kept
    )
    schema = f"{fields}, lag bigint, n_samples bigint, r0 bigint, r_lag bigint, ratio_bp bigint"

    def run(batches):
        for pdf in batches:
            out = {c: [] for c in kept}
            lag_o: list[int | None] = []
            n_o: list[int | None] = []
            r0_o: list[int | None] = []
            r_o: list[int | None] = []
            bp_o: list[int | None] = []
            payloads = pdf["bytes"].to_numpy(dtype=object)
            all_lags = pdf["lags"].to_numpy(dtype=object)
            for i in range(len(pdf)):
                lags = all_lags[i]
                if lags is None:
                    continue
                b = payloads[i]
                ok = b is not None and len(b) % 2 == 0
                if ok:
                    x = np.frombuffer(b, dtype="<i2").astype(np.int64)
                    n = int(x.size)
                    r0 = int(np.dot(x, x))
                for lag in lags:
                    for c in kept:
                        out[c].append(pdf[c].iloc[i])
                    lag = int(lag)
                    lag_o.append(lag)
                    if not ok:
                        n_o.append(None); r0_o.append(None)
                        r_o.append(None); bp_o.append(None)
                        continue
                    n_o.append(n)
                    r0_o.append(r0)
                    if lag <= 0:
                        r_o.append(None); bp_o.append(None)
                        continue
                    r = int(np.dot(x[:-lag], x[lag:])) if lag < n else 0
                    r_o.append(r)
                    if r0 == 0:
                        bp_o.append(None)
                    else:
                        v = r * 10000
                        bp_o.append(v // r0 if v >= 0 else -((-v) // r0))
            out.update(
                {"lag": lag_o, "n_samples": n_o, "r0": r0_o, "r_lag": r_o, "ratio_bp": bp_o}
            )
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=schema)


def normalization_gain(stats: DataFrame, *, target_ms_q: int) -> DataFrame:
    """Loudness-normalization planning over a :func:`pcm_stats` frame.

    For each clip, the linear gain (in basis points) that brings its mean
    square to ``target_ms_q``: ``gain_bp = isqrt(target·10⁸·n div energy)``
    — i.e. 10⁴·√(target_ms / clip_ms) rounded down. Emits a SPAN-style
    plan, never rewritten audio: at 100 TB you stamp the gain next to the
    clip and apply it at training/serving time.

    - ``gain_bp``        — the un-capped target gain (NULL if the clip has
      no energy or no samples — you cannot normalize silence)
    - ``max_gain_bp``    — largest clip-safe gain, ``32767·10⁴ div
      peak`` (NULL when peak is 0/NULL)
    - ``would_clip``     — target gain exceeds the safe gain
    - ``capped_gain_bp`` — ``least(gain_bp, max_gain_bp)`` — what a
      clipping-aware normalizer actually applies

    Integer-exact and engine-portable: the square root is
    ``floor(sqrt())`` in doubles then corrected ±1 against the
    cross-multiplied inequality ``c²·energy ≤ target·10⁸·n`` carried in a
    decimal(38,0)/HUGEINT lane (no int64 overflow, no float compare at the
    boundary — the sampling/anomaly modules use the same two lanes). Pure
    JVM projection: zero Python, zero shuffle.
    """
    if target_ms_q <= 0:
        raise ValueError(f"target_ms_q must be positive, got {target_ms_q}")
    e, n, p = "energy", "n_samples", "peak_abs"
    n_t = f"(CAST({target_ms_q} AS DECIMAL(38,0)) * 100000000 * {n})"
    bad = f"({e} IS NULL OR {e} <= 0 OR {n} IS NULL OR {n} <= 0)"
    out = (
        stats.withColumn(
            "_c0",
            F.expr(
                f"CASE WHEN {bad} THEN NULL ELSE "
                f"CAST(floor(sqrt(CAST({n_t} AS DOUBLE) / CAST({e} AS DOUBLE)))"
                " AS BIGINT) END"
            ),
        )
        .withColumn(
            "_c1",
            F.expr(
                "_c0 + (CASE WHEN CAST(_c0 + 1 AS DECIMAL(38,0)) * (_c0 + 1)"
                f" * {e} <= {n_t} THEN 1 ELSE 0 END)"
            ),
        )
        .withColumn(
            "gain_bp",
            F.expr(
                "_c1 - (CASE WHEN CAST(_c1 AS DECIMAL(38,0)) * _c1"
                f" * {e} > {n_t} THEN 1 ELSE 0 END)"
            ),
        )
        .withColumn(
            "max_gain_bp",
            F.expr(f"CASE WHEN {p} > 0 THEN 32767 * 10000 div {p} END"),
        )
        .withColumn(
            "would_clip",
            F.expr(
                "CASE WHEN gain_bp IS NULL OR max_gain_bp IS NULL THEN NULL"
                " ELSE gain_bp > max_gain_bp END"
            ),
        )
        .withColumn(
            "capped_gain_bp",
            F.expr(
                "CASE WHEN gain_bp IS NULL THEN NULL"
                " ELSE least(gain_bp, coalesce(max_gain_bp, gain_bp)) END"
            ),
        )
    )
    return out.drop("_c0", "_c1")


def clipping_stats(df: DataFrame, *, keep: list[str] | None = None) -> DataFrame:
    """Sustained-overdrive screen decoded from raw int16-LE PCM bytes.

    Emits ``(n_samples, n_clipped, max_clip_run, clipped_ppm)`` per row:
    a clip *ratio* can't tell real distortion (hundreds of CONSECUTIVE
    full-scale samples) from isolated legitimate peaks — the run length
    can (the loud sibling of the dead-air screen, pcm.max_quiet_run_ms).
    Integer-exact end-to-end (counts and half-up ppm — no float), NULL /
    odd-length payloads yield NULL stats; one mapInPandas stage and the
    binary column dies inside it (same contract as :func:`pcm_stats`).
    """
    kept = keep if keep is not None else [f.name for f in df.schema.fields if f.name != "bytes"]
    _guard_emitted(
        kept, ("n_samples", "n_clipped", "max_clip_run", "clipped_ppm"), "clipping_stats"
    )
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in kept
    )
    schema = (
        f"{fields}, n_samples bigint, n_clipped bigint, max_clip_run bigint,"
        " clipped_ppm bigint"
    )

    def run(batches):
        from data_check_spark.functions.pcm import clipped_run_stats

        for pdf in batches:
            m = len(pdf)
            n_s: list[int | None] = [None] * m
            nc_s: list[int | None] = [None] * m
            run_s: list[int | None] = [None] * m
            ppm_s: list[int | None] = [None] * m
            payloads = pdf["bytes"].to_numpy(dtype=object)
            for i in range(m):
                b = payloads[i]
                if b is None or len(b) % 2 != 0:
                    continue
                decoded = np.frombuffer(b, dtype="<i2")
                n = decoded.size
                n_s[i] = n
                n_over, longest = clipped_run_stats(decoded)
                nc_s[i] = n_over
                run_s[i] = longest
                ppm_s[i] = (n_over * 1_000_000 + n // 2) // n if n else 0
            out = pdf[kept].copy()
            out["n_samples"] = pd.array(n_s, dtype="Int64")
            out["n_clipped"] = pd.array(nc_s, dtype="Int64")
            out["max_clip_run"] = pd.array(run_s, dtype="Int64")
            out["clipped_ppm"] = pd.array(ppm_s, dtype="Int64")
            yield out

    return df.mapInPandas(run, schema=schema)


# --- Deterministic augmentation planning ------------------------------------

AUG_SPEEDS_PERMILLE = (900, 1000, 1100)
AUG_NOISE_KINDS = ("babble", "music", "street", "white")


def augmentation_plan(df: DataFrame, *, id_col: str = "clip_id", n_variants: int = 3) -> DataFrame:
    """Assign each clip ``n_variants`` augmentation parameter rows — speed
    perturbation, additive-noise kind (``AUG_NOISE_KINDS``), and mix SNR (5-30 dB) — as a
    PURE FUNCTION of (clip id, variant index).

    ASR training recipes (kaldi/espnet 3-way speed perturb + MUSAN-style
    noise mixing) need per-clip augmentation parameters; drawing them with
    ``rand()`` makes every rerun, resume, and engine reproduce a DIFFERENT
    epoch. Here the draw is the engine-wide portable-hash pattern
    (md5-derived integers, the same family as the MinHash/LSH oracles), so
    the plan is reproducible across runs AND auditable cross-engine.

    Plan shape: one projection + one explode over ``n_variants`` (no
    shuffle, no Python); output rows = |input| × n_variants. The decode /
    resample that CONSUMES the plan is the wide-pass seam
    (``prepare_clips`` / multimodal decode), not this operator.
    """
    if n_variants < 1:
        raise ValueError(f"n_variants must be >= 1, got {n_variants}")
    from data_check_spark.operators.dedup import _portable_hash60

    v = F.explode(F.sequence(F.lit(0), F.lit(n_variants - 1))).alias("variant")
    base = df.select(F.col(id_col), v)

    def _h(tag: str) -> Column:
        # one md5 per parameter (the engine's portable-hash convention —
        # independent tags, no bit-slicing of a shared hash)
        return _portable_hash60(
            F.concat(F.col(id_col).cast("string"), F.lit(tag), F.col("variant"))
        )

    speed_arr = F.array(*[F.lit(s) for s in AUG_SPEEDS_PERMILLE])
    kind_arr = F.array(*[F.lit(k) for k in AUG_NOISE_KINDS])
    return base.select(
        id_col,
        "variant",
        # variant 0 is always the clean 1000‰ pass-through (standard recipe:
        # the original copy is kept; perturbed copies add to it)
        F.when(F.col("variant") == 0, F.lit(1000))
        .otherwise(F.element_at(
            speed_arr, (_h(":aug:spd:") % F.lit(len(AUG_SPEEDS_PERMILLE))).cast("int") + 1
        ))
        .alias("speed_permille"),
        F.when(F.col("variant") == 0, F.lit(None).cast("string"))
        .otherwise(F.element_at(
            kind_arr, (_h(":aug:nk:") % F.lit(len(AUG_NOISE_KINDS))).cast("int") + 1
        ))
        .alias("noise_kind"),
        F.when(F.col("variant") == 0, F.lit(None).cast("int"))
        .otherwise((F.lit(5) + _h(":aug:snr:") % F.lit(26)).cast("int"))
        .alias("noise_snr_db"),
    )

