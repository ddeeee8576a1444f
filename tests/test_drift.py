"""Distribution-drift rule: shifted partitions flagged, clean ones not."""

import numpy as np
from pyspark.sql import functions as F

from data_check_spark.operators import tdigest as td
from data_check_spark.operators.drift import GLOBAL_KEY, drift_violations_multi, make_baseline


def _table(spark, shift_parts=()):
    rng = np.random.default_rng(42)
    rows = []
    for p in [f"p{i}" for i in range(6)]:
        shift = 8000 if p in shift_parts else 0
        for v in rng.normal(5000 + shift, 800, 400):
            rows.append((p, float(v)))
    return spark.createDataFrame(rows, "partition string, dur_ms double")


def test_partition_digests(spark):
    df = _table(spark)
    out = make_baseline(spark, df, ["dur_ms"]).filter(F.col("partition") != GLOBAL_KEY).collect()
    assert len(out) == 6
    for r in out:
        assert r["column_name"] == "dur_ms"
        assert r["n"] == 400
        d = td.deserialize(bytes(r["tdigest"]))
        assert 4000 < td.quantile(d, 0.5) < 6000


def test_global_digest_treeaggregate(spark):
    df = _table(spark)
    (row,) = make_baseline(spark, df, ["dur_ms"]).filter(F.col("partition") == GLOBAL_KEY).collect()
    assert row["n"] == 2400
    assert 4500 < td.quantile(td.deserialize(bytes(row["tdigest"])), 0.5) < 5500


def test_drift_flags_shifted_partition(spark):
    clean = _table(spark)
    baseline = make_baseline(spark, clean, ["dur_ms"])
    current = _table(spark, shift_parts={"p2", "p4"})
    out = drift_violations_multi(current, baseline, [("DRIFT", "dur_ms", 0.25)]).collect()
    assert {r["partition"] for r in out} == {"p2", "p4"}
    assert all(r["clip_id"] is None for r in out)


def test_drift_clean_passes(spark):
    clean = _table(spark)
    baseline = make_baseline(spark, clean, ["dur_ms"])
    out = drift_violations_multi(_table(spark), baseline, [("DRIFT", "dur_ms", 0.25)]).collect()
    assert out == []


def test_drift_global_fallback(spark):
    # partition absent from baseline → compared against __global__
    clean = _table(spark)
    baseline = make_baseline(spark, clean, ["dur_ms"]).filter(
        (F.col("partition") != "p5") | (F.col("partition") == "__global__")
    )
    shifted = _table(spark, shift_parts={"p5"})
    out = drift_violations_multi(shifted, baseline, [("DRIFT", "dur_ms", 0.25)]).collect()
    assert {r["partition"] for r in out} == {"p5"}


def test_drift_no_baseline_at_all_flags(spark):
    # missing baseline row AND no __global__ → NULL w1 → flagged (fail-closed)
    current = _table(spark)
    empty = make_baseline(spark, current, ["dur_ms"]).filter(F.lit(False))
    out = drift_violations_multi(current, empty, [("DRIFT", "dur_ms", 0.25)]).collect()
    assert len(out) == 6


def test_drift_discrete_knife_edge_not_flagged(spark):
    """A discrete column whose per-atom probabilities barely differ must NOT
    flag, even though the median teleports across the atom gap (the sr_hz
    false-positive mechanism: sup-norm quantile distance would be ~1.0 here,
    but only ~1% of the mass actually moved → W1 score ~0.01)."""
    ref_rows = [("p0", 16000.0)] * 505 + [("p0", 44100.0)] * 495
    cur_rows = [("pX", 16000.0)] * 495 + [("pX", 44100.0)] * 505  # flip 1%
    clean = spark.createDataFrame(ref_rows, "partition string, sr_hz double")
    baseline = make_baseline(spark, clean, ["sr_hz"])
    cur = spark.createDataFrame(cur_rows, "partition string, sr_hz double")
    # pX is absent from the baseline → compared against __global__ where the
    # median sits on the other side of the atom boundary
    out = drift_violations_multi(cur, baseline, [("DRIFT", "sr_hz", 0.25)]).collect()
    assert out == []
    # sanity: a LARGE flip of the same two atoms (30% of mass) IS drift and
    # does fire — proves the metric, not an insensitive threshold, held above
    big_rows = [("pY", 16000.0)] * 200 + [("pY", 44100.0)] * 800
    big = spark.createDataFrame(big_rows, "partition string, sr_hz double")
    out_big = drift_violations_multi(big, baseline, [("DRIFT", "sr_hz", 0.25)]).collect()
    assert {r["partition"] for r in out_big} == {"pY"}


def test_drift_real_shift_flagged_w1(spark):
    """The planted-style +8s location shift moves ALL the mass: W1 ≈ 8000 /
    inter-decile scale ≫ threshold."""
    clean = _table(spark)
    baseline = make_baseline(spark, clean, ["dur_ms"])
    shifted = _table(spark, shift_parts={"p1"})
    out = drift_violations_multi(shifted, baseline, [("DRIFT", "dur_ms", 0.25)]).collect()
    assert {r["partition"] for r in out} == {"p1"}
    assert "w1=" in out[0]["observed"]


def test_categorical_drift_flags_skewed_partition(spark):
    # p_skew: 90% opus; others: uniform over 3 codecs
    rows = []
    for p in ("p0", "p1", "p2"):
        for i in range(60):
            rows.append((p, ["flac", "opus", "mp3"][i % 3]))
    rows += [("p_skew", "opus")] * 54 + [("p_skew", "flac")] * 6
    df = spark.createDataFrame(rows, "partition string, codec string")
    from data_check_spark.operators.drift import categorical_drift_violations

    out = categorical_drift_violations(
        df, "CMIX", "codec", threshold_bp=2500, min_rows=50
    ).collect()
    assert {r["partition"] for r in out} == {"p_skew"}
    r = next(r for r in out if r["partition"] == "p_skew")
    assert r["rule_id"] == "CMIX" and r["clip_id"] is None
    assert r["observed"].startswith("codec tv_bp=")
    # missing category counts toward the distance: a partition with NO mp3
    # at all still pays mp3's baseline share
    tv = int(r["observed"].split("=")[1])
    assert tv > 4000


def test_categorical_drift_uniform_passes(spark):
    rows = [(f"p{i % 4}", ["flac", "opus"][(i // 4) % 2]) for i in range(400)]
    df = spark.createDataFrame(rows, "partition string, codec string")
    from data_check_spark.operators.drift import categorical_drift_violations

    assert (
        categorical_drift_violations(df, "CMIX", "codec", threshold_bp=500, min_rows=50).collect()
        == []
    )


def test_categorical_drift_skips_tiny_partitions(spark):
    """Below min_rows the share estimate is noise — no verdict either way."""
    from data_check_spark.operators.drift import categorical_drift_violations

    rows = [("p_big", ["flac", "opus"][(i // 2) % 2]) for i in range(200)]
    rows += [("p_tiny", "opus")] * 5  # wildly skewed but only 5 rows
    df = spark.createDataFrame(rows, "partition string, codec string")
    out = categorical_drift_violations(df, "CMIX", "codec", threshold_bp=2500, min_rows=100)
    assert out.collect() == []


def test_engine_codec_mix_drift_on_planted_partitions(spark):
    """End-to-end: the shipped catalog flags exactly the 4 planted
    codec-mix partitions (datagen.CODEC_MIX_PARTITIONS)."""
    from data_check_spark import datagen
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.catalog_audio import audio_catalog
    from data_check_spark.rules.spec import RuleCatalog

    clips = datagen.clips_df(spark, 20000, with_bytes=False).drop("_gen_id", "_viol")
    catalog = RuleCatalog([r for r in audio_catalog() if r.kind == "cat_drift"])
    res = run_validation(spark, clips, {}, catalog, run_ts="2026-01-01 00:00:00")
    got = {(r["rule_id"], r["partition"]) for r in res.violations.collect()}
    assert got == {("CODEC_MIX_DRIFT", p) for p in sorted(datagen.CODEC_MIX_PARTITIONS)}


def test_rate_drift_flags_null_surge_partition(spark):
    """p_bad: 50% null transcripts; others ~5% — only p_bad drifts."""
    from data_check_spark.operators.drift import rate_drift_violations

    rows = []
    for p in ("p0", "p1"):
        for i in range(100):
            rows.append((p, None if i < 5 else "text"))
    rows += [("p_bad", None if i < 50 else "text") for i in range(100)]
    df = spark.createDataFrame(rows, "partition string, transcript string")
    out = rate_drift_violations(
        df, "NULL_RATE", "transcript IS NULL", threshold_bp=2000, min_rows=50
    ).collect()
    assert {r["partition"] for r in out} == {"p_bad"}
    r = out[0]
    assert r["rule_id"] == "NULL_RATE" and r["clip_id"] is None
    # 50/100 → 5000 bp vs table 60/300 → 2000 bp
    assert r["observed"] == "rate_bp=5000 base_bp=2000"


def test_rate_drift_min_rows_and_null_predicate(spark):
    from data_check_spark.operators.drift import rate_drift_violations

    # same skew but only 20 rows in the bad partition → skipped
    rows = [(f"p{i % 2}", "text") for i in range(200)]
    rows += [("p_tiny", None)] * 20
    df = spark.createDataFrame(rows, "partition string, transcript string")
    out = rate_drift_violations(
        df, "NULL_RATE", "transcript IS NULL", threshold_bp=2000, min_rows=50
    )
    assert out.collect() == []
    # NULL-valued predicate counts as not-holding, not as a null count
    out2 = rate_drift_violations(
        df, "R", "length(transcript) > 100", threshold_bp=1, min_rows=1
    )
    assert out2.count() == 0


def test_volume_drift_flags_oversized_partition(spark):
    """Sizes 100/100/100/500: only the 500 exceeds ±50% of the mean (200);
    the 100s sit exactly at −5000 bp (strict > keeps them quiet)."""
    from data_check_spark.operators.drift import volume_drift_violations

    rows = [(f"p{i % 3}", i) for i in range(300)] + [("p_big", i) for i in range(500)]
    df = spark.createDataFrame(rows, "partition string, x int")
    out = volume_drift_violations(df, "VOL", threshold_bp=5000).collect()
    assert {r["partition"] for r in out} == {"p_big"}
    assert out[0]["observed"] == "rows=500 dev_bp=15000"
    # tighter threshold: the undersized partitions flag too (dev −5000)
    out2 = volume_drift_violations(df, "VOL", threshold_bp=4000)
    assert {r["partition"] for r in out2.collect()} == {"p0", "p1", "p2", "p_big"}


def test_engine_rate_and_volume_drift_kinds(spark):
    """Engine dispatch: both kinds run from a catalog and respect the
    violation contract (rule_id, NULL clip_id, partition, observed)."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    def mk(part, n, nulls):
        return [
            (f"c_{part}_{i}", None, 16000, 100, "flac",
             None if i < nulls else "text", part)
            for i in range(n)
        ]

    # p0..p3 normal; p_null: same size, null surge; p_big: 4x rows, normal
    rows = [r for p in range(4) for r in mk(f"p{p}", 200, 10)]
    rows += mk("p_null", 200, 100) + mk("p_big", 800, 40)
    clips = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string, partition string",
    )
    catalog = RuleCatalog([
        Rule("NULL_RATE_DRIFT", "rate_drift", "transcript",
             {"predicate": "transcript IS NULL", "threshold_bp": 2000, "min_rows": 100}),
        Rule("VOLUME_DRIFT", "volume_drift", None, {"threshold_bp": 5000}),
    ])
    res = run_validation(spark, clips, {}, catalog, run_ts="2026-01-01 00:00:00")
    got = {(r["rule_id"], r["partition"]) for r in res.violations.collect()}
    # table null rate 1000 bp: p_null at 5000 bp is the only rate outlier;
    # mean partition size 300: p_big at +16666 bp is the only volume outlier
    assert got == {("NULL_RATE_DRIFT", "p_null"), ("VOLUME_DRIFT", "p_big")}


def test_two_drift_rules_same_column(spark):
    """Warn + error tiers can monitor ONE column: the sketch pass must not
    crash on the duplicate column and BOTH rules must score independently
    (the old per-column map was last-wins)."""
    clean = _table(spark)
    baseline = make_baseline(spark, clean, ["dur_ms"])
    current = _table(spark, shift_parts={"p2"})
    out = drift_violations_multi(
        current, baseline,
        [("DRIFT_WARN", "dur_ms", 0.25), ("DRIFT_ERR", "dur_ms", 1e9)],
    ).collect()
    by_rule = {}
    for r in out:
        by_rule.setdefault(r["rule_id"], set()).add(r["partition"])
    assert by_rule.get("DRIFT_WARN") == {"p2"}  # low threshold fires
    assert "DRIFT_ERR" not in by_rule           # huge threshold never fires
