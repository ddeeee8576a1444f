"""Integration: full catalog over a small planted table → expected violation
ID sets (reference analog: tests/test_dekispart.py:86-162 asserts a check-ID
subset on a seeded fixture), plus checkpoint/resume and summary shape."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_check_spark import checkpoint
from data_check_spark.datagen import (
    CODECS,
    DRIFT_PARTITIONS,
    HOT_DUP_CLIP_ID,
    HOT_PARTITION,
    clips_df,
    transcripts_df,
)
from data_check_spark.engine import run_validation
from data_check_spark.operators.drift import make_baseline
from data_check_spark.rules.catalog_audio import audio_catalog
from data_check_spark.rules.spec import Rule, RuleCatalog

N = 12_000


@pytest.fixture(scope="module")
def result(spark):
    clips = clips_df(spark, N, with_bytes=True)
    tr = transcripts_df(spark, N)
    clean = clips.filter(~F.col("partition").isin(*sorted(DRIFT_PARTITIONS)))
    baseline = make_baseline(spark, clean, ["dur_ms", "sr_hz"])
    res = run_validation(spark, clips, {"transcripts": tr, "baseline_stats": baseline})
    res.violations = res.violations.cache()
    return res


def test_all_rule_families_fire(result):
    fired = {r["rule_id"] for r in result.violations.select("rule_id").distinct().collect()}
    expected = {r.rule_id for r in audio_catalog()} - {
        "SR_NOT_NULL", "DRIFT_SR_HZ", "AUDIO_SILENCE", "CODEC_MIX_DRIFT"
    }
    # SR_NOT_NULL does fire (planted); DRIFT_SR_HZ may or may not (no planted
    # sr shift); AUDIO_SILENCE has no planted silent clips (monitoring rule);
    # CODEC_MIX_DRIFT needs >= min_rows=100 per partition and at N=12k the
    # planted mix partitions hold ~75 rows (dedicated 20k test in test_drift.py)
    assert expected <= fired | {"DRIFT_SR_HZ", "AUDIO_SILENCE"}
    assert "SR_NOT_NULL" in fired


def test_drift_flags_exactly_planted_partitions(result):
    flagged = {
        r["partition"]
        for r in result.violations.filter(F.col("rule_id") == "DRIFT_DUR_MS").collect()
    }
    assert flagged == DRIFT_PARTITIONS


def test_sr_drift_only_on_global_fallback_partitions(result):
    flagged = {
        r["partition"]
        for r in result.violations.filter(F.col("rule_id") == "DRIFT_SR_HZ").collect()
    }
    # sr_hz has no planted shift: any flag is quantile jitter on a partition
    # lacking its own baseline (only drift partitions lack one)
    assert flagged <= DRIFT_PARTITIONS


def test_hot_dup_key_detected(result):
    dups = result.violations.filter(
        (F.col("rule_id") == "CLIP_ID_UNIQUE") & (F.col("clip_id") == HOT_DUP_CLIP_ID)
    )
    assert dups.count() > 1


def test_verdicts_consistent(result):
    v = result.verdicts
    total_rows = v.agg(F.sum("rows_scanned")).collect()[0][0]
    assert total_rows == N
    failed = v.filter(~F.col("passed"))
    assert failed.count() > 0
    # hot partition exists and is ~20x+ the median
    hot = v.filter(F.col("partition") == HOT_PARTITION).collect()[0]
    med = sorted(r["rows_scanned"] for r in v.collect())[len(v.collect()) // 2]
    assert hot["rows_scanned"] > 10 * med
    # row-grain violation counts reconcile
    per_part = {
        r["partition"]: r["n"]
        for r in result.violations.filter(F.col("partition").isNotNull())
        .groupBy("partition").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in v.collect():
        assert r["violations"] == per_part.get(r["partition"], 0)


def test_summary_shape(result):
    s = result.summary()
    assert s["total"] == sum(s["per_rule"].values())
    assert len(s["top5"]) == 5
    assert s["top5"][0] == max(s["per_rule"], key=lambda k: (s["per_rule"][k], k))


def test_schema_validated(result):
    assert result.schema_problems == []


def test_checkpoint_resume(spark):
    clips = clips_df(spark, 2000, with_bytes=False)
    cat = RuleCatalog([Rule("R1", "not_null", "transcript")])
    ckdir = tempfile.mkdtemp()
    try:
        r1 = run_validation(spark, clips, {}, cat, checkpoint_dir=ckdir)
        assert r1.rows_scanned == 2000
        # the caller appends the checkpoint once its outputs are durable
        checkpoint.write_checkpoint(r1.verdicts, ckdir, r1.run_id)
        r2 = run_validation(spark, clips, {}, cat, checkpoint_dir=ckdir, resume=True)
        assert r2.rows_scanned == 0  # everything pruned by partition
        assert r2.verdicts.count() == 0
    finally:
        shutil.rmtree(ckdir)


def test_codec_whitelist_dim_consistent(spark):
    """The catalog's CODEC_WHITELIST value-set rule and a referential check
    against a codec whitelist dim table flag the same clips."""
    wl = spark.createDataFrame(
        [(c, True) for c in CODECS] + [("wav", False), ("wma", False)],
        "codec string, allowed boolean",
    )
    clips = clips_df(spark, 4000, with_bytes=False).filter(F.col("codec").isNotNull())
    cat = RuleCatalog([
        Rule("CODEC_WHITELIST", "value_in_set", "codec", {"allowed": CODECS}),
        Rule("CODEC_FK", "referential", "codec",
             {"dim": "codec_whitelist", "dim_key": "codec", "mode": "anti"}),
    ])
    res = run_validation(spark, clips, {"codec_whitelist": wl.filter("allowed")}, cat)
    flagged = {}
    for r in res.violations.filter(F.col("rule_id").startswith("CODEC_")).collect():
        flagged.setdefault(r["rule_id"], set()).add(r["clip_id"])
    assert flagged["CODEC_WHITELIST"] and flagged["CODEC_WHITELIST"] == flagged["CODEC_FK"]


def test_conflicting_cap_ms_rejected(spark):
    """Two audio_decode rules with different cap_ms would silently share one
    SNR column — the engine refuses instead."""
    import pytest

    from data_check_spark import datagen
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    clips = datagen.clips_df(spark, 200, bytes_cap_ms=20).drop("_gen_id", "_viol")
    catalog = RuleCatalog([
        Rule("SNR_A", "audio_decode", "bytes", {"cap_ms": 20}),
        Rule("SNR_B", "audio_decode", "bytes", {"cap_ms": 50}),
    ])
    with pytest.raises(ValueError, match="cap_ms"):
        run_validation(spark, clips, {}, catalog, run_ts="2026-01-01 00:00:00")


def test_set_rule_gate_run_ts(spark):
    """{run_ts} expands in set-oriented rule gates (unique here)."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    df = spark.createDataFrame(
        [("a", "2000-01-01 00:00:00", "p"), ("a", "2000-01-02 00:00:00", "p"),
         ("a", "2002-01-01 00:00:00", "p")],
        "clip_id string, seen string, partition string",
    )
    df = df.withColumn("seen", df["seen"].cast("timestamp"))
    catalog = RuleCatalog([
        Rule("DUP_OLD", "unique", "clip_id", gate="seen < {run_ts}"),
    ])
    res = run_validation(spark, df, {}, catalog, run_ts="2001-06-01 00:00:00")
    # Only the two pre-run_ts rows are in scope -> both are duplicate rows.
    assert res.violations.filter("rule_id = 'DUP_OLD'").count() == 2


def test_warning_only_partition_passes(spark):
    """Severity tier: warning violations are reported but don't fail the
    partition; error violations do (reference warning-only CHK_0021)."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    df = spark.createDataFrame(
        [("a", 5, "warn_only"), ("b", -1, "has_error"), ("c", 1, "clean")],
        "clip_id string, x int, partition string",
    )
    catalog = RuleCatalog([
        Rule("X_BIG_WARN", "range", "x", {"max": 3}, severity="warning"),
        Rule("X_NEGATIVE", "range", "x", {"min": 0}),
    ])
    res = run_validation(spark, df, {}, catalog, run_ts="2026-01-01 00:00:00")
    v = {r["partition"]: (r["passed"], r["violations"]) for r in res.verdicts.collect()}
    assert v["warn_only"] == (True, 1)   # counted, but passes
    assert v["has_error"] == (False, 1)
    assert v["clean"] == (True, 0)


def test_broken_rule_degrades_to_violation_row(spark):
    """A rule whose expression cannot compile/resolve becomes a
    RULE_ERROR_<id> row instead of failing the run (reference:
    UNEXPECTED_ERROR_<fn> degradation, dekispart.py:1151-1157)."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    df = spark.createDataFrame(
        [("a", -1, "p")], "clip_id string, x int, partition string"
    )
    catalog = RuleCatalog([
        Rule("X_NEGATIVE", "range", "x", {"min": 0}),                 # fine
        Rule("BAD_COLUMN", "cross_column", None, {"expr": "no_such_col > 1"}),
        Rule("BAD_REGEX", "format", "clip_id", {"pattern": "(["}),
        Rule("BAD_DIM_KEY", "referential", "clip_id",
             {"dim": "d", "dim_key": "missing_key", "mode": "anti"}),
        # same dim join as BAD_DIM_KEY: the whole group degrades, the run
        # does not fail
        Rule("BAD_ORPHAN_KEY", "referential", "clip_id",
             {"dim": "d", "dim_key": "missing_key", "mode": "orphan"}),
    ])
    dims = {"d": spark.createDataFrame([("a",)], "clip_id string")}
    res = run_validation(spark, df, dims, catalog, run_ts="2026-01-01 00:00:00")
    rules = {r["rule_id"] for r in res.violations.collect()}
    assert "X_NEGATIVE" in rules  # healthy rule still ran
    assert {"RULE_ERROR_BAD_COLUMN", "RULE_ERROR_BAD_REGEX",
            "RULE_ERROR_BAD_DIM_KEY", "RULE_ERROR_BAD_ORPHAN_KEY"} <= rules


def test_gate_on_ungateable_kind_is_rule_error(spark):
    """A kind that cannot honour a gate (cat_drift, referential orphan, ...)
    must not silently run ungated: the gated rule becomes a RULE_ERROR row
    and the rest of the catalog still runs."""
    df = spark.createDataFrame(
        [("a", -1, "flac", "p0"), ("b", 1, "wav", "p1")],
        "clip_id string, x int, codec string, partition string",
    )
    dims = {"d": spark.createDataFrame([("a",), ("orphan",)], "clip_id string")}
    catalog = RuleCatalog([
        Rule("X_NEGATIVE", "range", "x", {"min": 0}),
        Rule("MIX", "cat_drift", "codec", {"min_rows": 1}, gate="x > 0"),
        Rule("ORPHAN", "referential", "clip_id", {"dim": "d", "mode": "orphan"},
             gate="x > 0"),
        Rule("ORPHAN_ANY", "referential", "clip_id", {"dim": "d", "mode": "orphan"}),
    ])
    res = run_validation(spark, df, dims, catalog, run_ts="2026-01-01 00:00:00")
    rules = {r["rule_id"] for r in res.violations.collect()}
    assert {"X_NEGATIVE", "ORPHAN_ANY", "RULE_ERROR_MIX", "RULE_ERROR_ORPHAN"} <= rules
    assert not rules & {"MIX", "ORPHAN"}


def test_transcript_match_standalone_honors_column_and_key(spark):
    """A lone transcript_match rule (a dim join of its own — no sibling
    referential rule) must compare rule.column joined on params['dim_key'],
    not the defaults ('transcript' / 'clip_id')."""
    df = spark.createDataFrame(
        [("t1", "hello", "p"), ("t2", "world", "p")],
        "tid string, subtitle string, partition string",
    )
    dim = spark.createDataFrame(
        [("t1", "hello"), ("t2", "CHANGED")], "tid string, transcript_ref string"
    )
    cat = RuleCatalog([
        Rule("SUB_MATCH", "transcript_match", "subtitle", {"dim": "d", "dim_key": "tid"}),
    ])
    res = run_validation(spark, df, {"d": dim}, cat, run_ts="2026-01-01 00:00:00")
    rows = res.violations.filter("rule_id = 'SUB_MATCH'").collect()
    assert [r["clip_id"] for r in rows] == ["t2"]
    assert not res.violations.filter("rule_id LIKE 'RULE_ERROR%'").collect()


def test_null_partition_rows_survive_resume_prune(spark):
    """~isin() is three-valued: NULL-partition rows must survive pruning and
    a NULL-partition checkpoint row must never enter the done list (it would
    make the IN-list filter drop EVERY row of a resumed run)."""
    import data_check_spark.checkpoint as cp

    df = spark.createDataFrame(
        [("a", "p0"), ("b", None)], "clip_id string, partition string"
    )
    kept = cp.prune_completed(df, ["p0"])
    assert [r["clip_id"] for r in kept.collect()] == ["b"]

    ckdir = tempfile.mkdtemp()
    try:
        vt = spark.createDataFrame(
            [(None, True, 1, 0, 5), ("p0", True, 1, 0, 5)],
            "partition string, passed boolean, rows_scanned long, "
            "violations long, wall_time_ms long",
        )
        cp.write_checkpoint(vt, ckdir, "run1")
        assert cp.completed_partitions(spark, ckdir) == ["p0"]
    finally:
        shutil.rmtree(ckdir)


def test_empty_catalog_is_legal(spark):
    """A schema-conforming table with zero rules yields zero violations and
    all-passing verdicts (not a reduce() over an empty iterable)."""
    clips = clips_df(spark, 500, with_bytes=False).drop("_gen_id", "_viol")
    res = run_validation(spark, clips, {}, RuleCatalog([]), run_ts="2026-01-01 00:00:00")
    assert res.violations.count() == 0
    assert res.verdicts.filter("NOT passed").count() == 0
    assert res.rows_scanned == 500


def test_agg_threshold_sla_through_engine(spark):
    """Whole-table SLA kind: one violation row on breach (NULL id/partition),
    nothing when the contract holds, NULL-metric counts as breach."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    df = spark.createDataFrame(
        [("a", 1, "p0"), (None, 2, "p0"), ("c", None, "p1"), ("d", 4, "p1")],
        "clip_id string, x int, partition string",
    )
    catalog = RuleCatalog([
        Rule("NULL_ID_SLA", "agg_threshold", None,
             {"metric_expr": "count_if(clip_id IS NULL) * 1000000 div count(1)",
              "max_value": 0}),                       # 25% null → breach
        Rule("ROWCOUNT_SLA", "agg_threshold", None,
             {"metric_expr": "count(1)", "min_value": 2}),  # holds
        Rule("GATED_EMPTY_SLA", "agg_threshold", None,
             {"metric_expr": "min(x)", "min_value": 0},
             gate="x > 100"),                         # empty scope → NULL → breach
    ])
    res = run_validation(spark, df, {}, catalog, run_ts="2026-01-01 00:00:00")
    rows = {r["rule_id"]: r for r in res.violations.collect()}
    # SCHEMA_MISMATCH is the engine's standing pre-flight note for this
    # minimal test schema (missing clip columns) — not under test here
    rows.pop("SCHEMA_MISMATCH", None)
    assert set(rows) == {"NULL_ID_SLA", "GATED_EMPTY_SLA"}
    assert rows["NULL_ID_SLA"]["observed"] == "metric=250000"
    assert rows["NULL_ID_SLA"]["clip_id"] is None
    assert rows["GATED_EMPTY_SLA"]["observed"] == "metric=<null>"


def test_transcript_wer_rule_kind(spark):
    """WER-tolerance transcript rule: small edits pass under the threshold,
    heavy rewrites fire, unevaluable pairs (empty ref / alphabet overflow)
    breach rather than silently pass."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    ref10 = " ".join(f"w{i}" for i in range(10))
    rows = [
        ("a", ref10, "p"),                                        # exact match
        ("b", ref10.replace("w3", "sub"), "p"),                   # 1/10 = 1000bp
        ("c", "completely different words here now", "p"),        # heavy
        ("d", "spurious transcript", "p"),                        # ref is empty
        ("e", "", "p"),                                           # both empty
        ("f", " ".join(f"v{i}" for i in range(300)), "p"),        # overflow
    ]
    clips = spark.createDataFrame(rows, "clip_id string, transcript string, partition string")
    dim = spark.createDataFrame(
        [("a", ref10), ("b", ref10), ("c", ref10), ("d", ""), ("e", ""),
         ("f", " ".join(f"u{i}" for i in range(300)))],
        "clip_id string, transcript_ref string",
    )
    catalog = RuleCatalog([
        Rule("T_WER", "transcript_wer", "transcript",
             {"dim": "transcripts", "dim_key": "clip_id", "max_wer_bp": 1500}),
    ])
    res = run_validation(
        spark, clips, {"transcripts": dim}, catalog, run_ts="2026-01-01 00:00:00"
    )
    v = {
        r["clip_id"]: r["observed"]
        for r in res.violations.filter("rule_id = 'T_WER'").collect()
    }
    assert set(v) == {"c", "d", "f"}
    assert v["c"].startswith("wer_bp=") and int(v["c"].split("=")[1]) > 1500
    assert v["d"] == "wer_bp=undefined_ref"
    assert v["f"] == "wer_bp=overflow"
