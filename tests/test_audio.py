"""PCM decode + SNR allclose (graft analog of the reference's arithmetic
consistency check, innosite.py:263-312) and transcript byte-equality (the
match branch of the fused dim join)."""

import numpy as np

from data_check_spark.functions.pcm import ref_freq, snr_db, synth_wave
from data_check_spark.operators.audio import (
    prepare_clips,
    snr_column_violations,
)
from data_check_spark.operators.referential import fused_dim_checks

CAP_MS = 100


def test_snr_identical_is_inf():
    w = synth_wave("clip_0123456789abcdef", 16000, 500, CAP_MS)
    assert snr_db(w, w.copy()) == float("inf")


def test_snr_corrupted_below_30db():
    w = synth_wave("clip_0123456789abcdef", 16000, 500, CAP_MS)
    rng = np.random.default_rng(7)
    noisy = np.clip(w.astype(np.int32) + rng.integers(-20000, 20000, len(w)), -32768, 32767).astype(np.int16)
    assert snr_db(w, noisy) < 30.0


def test_snr_small_dither_passes():
    w = synth_wave("clip_0123456789abcdef", 16000, 500, CAP_MS)
    dithered = (w + np.resize(np.array([1, -1], dtype=np.int16), len(w))).astype(np.int16)
    assert snr_db(w, dithered) >= 30.0


def test_snr_length_mismatch_is_neg_inf():
    w = synth_wave("clip_0123456789abcdef", 16000, 500, CAP_MS)
    assert snr_db(w, w[: len(w) // 2]) == float("-inf")


def test_ref_freq_deterministic():
    assert ref_freq("clip_0123456789abcdef") == ref_freq("clip_0123456789abcdef")
    assert ref_freq("clip_0123456789abcdef") != ref_freq("clip_fedcba9876543210")
    assert ref_freq(None) == 440.0
    assert ref_freq("not hex at all") > 0  # crc32 fallback


def _clips(spark):
    def mk(cid, sr, dur, payload):
        return (cid, payload, sr, dur, "flac", "t", "p0")

    good = synth_wave("clip_00000000000000aa", 16000, 500, CAP_MS)
    rng = np.random.default_rng(3)
    bad = np.clip(good.astype(np.int32) + rng.integers(-25000, 25000, len(good)), -32768, 32767).astype(np.int16)
    rows = [
        mk("clip_00000000000000aa", 16000, 500, bytearray(good.tobytes())),
        mk("clip_00000000000000bb", 16000, 500, bytearray(bad.tobytes())),      # corrupted
        mk("clip_00000000000000cc", 16000, 500, bytearray(good.tobytes()[:100])),  # truncated
        mk("clip_00000000000000dd", 16000, 500, bytearray(b"")),                # empty
        mk("clip_00000000000000ee", 16000, 500, None),                          # null payload
    ]
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string, partition string",
    )


def test_audio_snr_violations(spark):
    # clip bb's payload was synthesized for clip aa → SNR fails for bb.
    # Same path as the engine's audio_decode rule: wide pass, then the rule.
    out = snr_column_violations(prepare_clips(_clips(spark), cap_ms=CAP_MS), "SNR").collect()
    got = {r["clip_id"] for r in out}
    assert got == {
        "clip_00000000000000bb",
        "clip_00000000000000cc",
        "clip_00000000000000dd",
        "clip_00000000000000ee",
    }


def test_transcript_match(spark):
    clips = spark.createDataFrame(
        [("a", "こんにちは", "p0"), ("b", "hello", "p0"), ("c", "x", "p0")],
        "clip_id string, transcript string, partition string",
    )
    dim = spark.createDataFrame(
        [("a", "こんにちは"), ("b", "HELLO"), ("zz", "orphan text")],
        "clip_id string, transcript_ref string",
    )
    out = fused_dim_checks(
        clips, dim, fact_key="clip_id", dim_key="clip_id",
        match_rule="TM", fact_text="transcript", ref_text="transcript_ref",
    ).collect()
    # only b mismatches; c has no dim row (referential rule's job, not this one)
    assert {r["clip_id"] for r in out} == {"b"}


def test_prepare_clips_audio_features(spark):
    """Audio quality features from the single wide pass: clean clips are
    unclipped with matching tone frequency; corrupt clips clip and drift."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_check_spark.datagen import BUCKETS, clips_df
    from data_check_spark.operators.audio import prepare_clips

    clips = clips_df(spark, 4000, bytes_cap_ms=50)
    prep = prepare_clips(clips.drop("_gen_id"), cap_ms=50)
    lo, hi = BUCKETS["bytes_corrupt"]
    rows = prep.select("_viol", "clip_ratio", "rms_db", "freq_err_ratio").filter(
        F.col("clip_ratio").isNotNull()
    ).collect()
    clean = [r for r in rows if not (lo <= r["_viol"] < hi) and r["_viol"] >= 200]
    corrupt = [r for r in rows if lo <= r["_viol"] < hi]
    assert clean and corrupt
    assert all(r["clip_ratio"] == 0.0 for r in clean)
    assert all(r["freq_err_ratio"] < 0.12 for r in clean if r["freq_err_ratio"] is not None)
    assert np.mean([r["clip_ratio"] > 0.001 for r in corrupt]) > 0.5
    # clean sine at amplitude 0.5 sits near -9 dBFS
    lv = [r["rms_db"] for r in clean]
    assert -12.0 < float(np.median(lv)) < -6.0


def test_features_computed_without_snr_rule(spark):
    """clip_ratio/rms_db/freq_err_ratio must be present even when the
    catalog has no audio_decode rule (with_snr=False) — the clipping/
    silence/frequency rules depend on them."""
    from pyspark.sql import functions as F

    from data_check_spark.datagen import clips_df
    from data_check_spark.operators.audio import prepare_clips

    clips = clips_df(spark, 500, with_bytes=True).drop("_gen_id", "_viol")
    out = prepare_clips(clips, with_snr=False)
    row = out.filter(F.col("clip_ratio").isNotNull()).limit(1).collect()
    assert row, "no features computed in the with_snr=False pass"
    assert out.filter(F.col("_snr_db").isNotNull()).count() == 0  # SNR stays off


def test_max_quiet_run_ms():
    import numpy as np

    from data_check_spark.functions.pcm import max_quiet_run_ms

    sr = 1000  # 1 sample = 1 ms
    loud = np.full(100, 10_000, dtype=np.int16)
    gap = np.zeros(250, dtype=np.int16)
    x = np.concatenate([loud, gap, loud, gap[:50], loud])
    assert max_quiet_run_ms(x, sr) == 250.0
    assert max_quiet_run_ms(loud, sr) == 0.0
    # all-quiet clip: the run is the whole clip
    assert max_quiet_run_ms(gap, sr) == 250.0
    # full-scale-negative samples are NOT quiet (int16 abs overflow hazard)
    assert max_quiet_run_ms(np.full(10, -32768, dtype=np.int16), sr) == 0.0
    assert np.isnan(max_quiet_run_ms(np.zeros(0, dtype=np.int16), sr))


def test_dead_air_rule_via_wide_pass(spark):
    """silence_run_ms flows from the wide pass into an ordinary cross_column
    rule: a clip with a long internal gap fires, a continuous tone does not
    — even though both have healthy overall RMS."""
    import numpy as np

    from data_check_spark.engine import run_validation
    from data_check_spark.functions.pcm import synth_wave
    from data_check_spark.rules.spec import Rule, RuleCatalog

    sr, dur = 8000, 1000
    tone = synth_wave("clip_0000000a", sr, dur, cap_ms=dur)
    gapped = tone.copy()
    gapped[2000:6000] = 0  # 4000 samples = 500 ms of dead air
    rows = [
        ("clip_0000000a", tone.tobytes(), sr, dur, "wav", "t", "p0"),
        ("clip_0000000b", gapped.tobytes(), sr, dur, "wav", "t", "p0"),
    ]
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,"
        " transcript string, partition string",
    )
    catalog = RuleCatalog([
        Rule("AUDIO_DEAD_AIR", "cross_column", None,
             {"expr": "silence_run_ms > 300",
              "observed_expr": "concat('silence_run_ms=', format_string('%.1f', silence_run_ms))"},
             name="dead air > 300ms"),
        # an audio_decode rule forces the wide pass; cap >= dur so the gap is decoded
        Rule("PCM_SNR", "audio_decode", "bytes", {"snr_db_min": 30.0, "cap_ms": dur}),
    ])
    res = run_validation(spark, df, {}, catalog, run_ts="2026-01-01 00:00:00")
    fired = {(r.rule_id, r.clip_id) for r in res.violations.collect()}
    assert ("AUDIO_DEAD_AIR", "clip_0000000b") in fired
    assert ("AUDIO_DEAD_AIR", "clip_0000000a") not in fired
