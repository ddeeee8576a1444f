"""Referential operators: anti / semi / orphan / semi∘anti composition
(reference analogs: CHK_0032 dekispart.py:494-501, CHK_0033 503-510,
CHK_0060 968-988). The engine's anti rule runs as the anti branch of
``fused_dim_checks``."""

from pyspark.sql import functions as F

from data_check_spark.operators.referential import (
    fused_dim_checks,
    orphan_violations,
    semi_anti_violations,
    semi_join_violations,
)


def _fact(spark):
    rows = [("a", "p0"), ("b", "p0"), ("c", "p1"), (None, "p1"), ("", "p1")]
    return spark.createDataFrame(rows, "clip_id string, partition string")


def _dim(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "clip_id string")


def _anti(fact, dim, gate=None):
    return fused_dim_checks(fact, dim, fact_key="clip_id", dim_key="clip_id",
                            anti_rule="FK", anti_gate=gate)


def test_anti(spark):
    out = _anti(_fact(spark), _dim(spark, ["a", "b"])).collect()
    # c missing from dim; blanks exempt
    assert {(r["clip_id"], r["partition"]) for r in out} == {("c", "p1")}


def test_semi(spark):
    out = semi_join_violations(_fact(spark), _dim(spark, ["a", "zzz"]), "S").collect()
    assert {r["clip_id"] for r in out} == {"a"}


def test_orphan(spark):
    out = orphan_violations(_fact(spark), _dim(spark, ["a", "ghost1", "ghost2"]), "O").collect()
    assert {r["clip_id"] for r in out} == {"ghost1", "ghost2"}
    assert all(r["observed"] == "orphan" for r in out)


def test_semi_anti_composition(spark):
    # in A and not in B → violation (CHK_0060 shape)
    out = semi_anti_violations(
        _fact(spark), _dim(spark, ["a", "b"]), _dim(spark, ["b"]), "X"
    ).collect()
    assert {r["clip_id"] for r in out} == {"a"}


def test_anti_with_gate(spark):
    out = _anti(_fact(spark), _dim(spark, ["a"]), gate=F.col("partition") == "p0").collect()
    assert {r["clip_id"] for r in out} == {"b"}


def test_broadcast_strategy_in_plan(spark):
    # no hint: a small dim's anti join (a left outer join — no orphan rule
    # in the group) runs as a broadcast hash join, AQE's choice under
    # spark.sql.autoBroadcastJoinThreshold (north_rule's
    # broadcast-vs-sort-merge by dimension size)
    plan_df = _anti(_fact(spark), _dim(spark, ["a"]))
    plan_df.collect()
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    final, initial = plan.split("== Initial Plan ==")
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final and "SortMergeJoin" not in final
    assert "SortMergeJoin" in initial  # the static plan knew no dim size


def test_transcript_match_blank_keys_exempt(spark):
    """Blank fact keys are exempt from the match rule, whose one plan is
    the match branch of the fused dim join."""
    fact = spark.createDataFrame(
        [("", "a", "p0"), ("c1", "b", "p0")],
        "clip_id string, transcript string, partition string",
    )
    dim = spark.createDataFrame(
        [("", "DIFFERENT"), ("c1", "b")],
        "clip_id string, transcript_ref string",
    )
    fused = fused_dim_checks(
        fact, dim, fact_key="clip_id", dim_key="clip_id",
        match_rule="M", fact_text="transcript", ref_text="transcript_ref",
    ).collect()
    assert fused == []  # blank key exempt; c1 matches


def test_pruned_keys_only_clear_orphans(spark):
    """Keys of pruned partitions join as rows the run does not own: they
    clear the orphan rule, and the anti and match rules never fire on them."""
    fact = spark.createDataFrame(
        [("a", "x", "p0"), ("c", "x", "p0")],
        "clip_id string, transcript string, partition string",
    )
    pruned = spark.createDataFrame([("b",), ("b",), ("zz",), ("",)], "clip_id string")
    dim = spark.createDataFrame(
        [("a", "x"), ("b", "DIFFERENT"), ("ghost", "x")],
        "clip_id string, transcript_ref string",
    )
    out = fused_dim_checks(
        fact, dim, fact_key="clip_id", dim_key="clip_id",
        anti_rule="FK", orphan_rule="O", match_rule="M",
        fact_text="transcript", ref_text="transcript_ref", pruned_keys=pruned,
    ).collect()
    # c: owned, no dim row; ghost: no fact key anywhere. b is referenced
    # only by a pruned partition (no orphan, no match row); zz has no dim
    # row but is not this run's (no anti row).
    assert sorted((r["rule_id"], r["clip_id"], r["partition"]) for r in out) == [
        ("FK", "c", "p0"), ("O", "ghost", None),
    ]


def test_cardinality_violations(spark):
    from data_check_spark.operators.referential import cardinality_violations

    parent = spark.createDataFrame([(1,), (2,), (3,), (4,), (None,)], "pk long")
    child = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (None,)], "fk long"
    )
    out = {
        r["key"]: r
        for r in cardinality_violations(
            parent, child, parent_key="pk", child_key="fk",
            min_children=1, max_children=2,
        ).collect()
    }
    # 1 has 3 children (too_many), 2 has 1 (ok), 3/4 have none (too_few);
    # NULL parent key skipped, NULL child key counts nowhere
    assert set(out) == {1, 3, 4}
    assert out[1]["status"] == "too_many" and out[1]["n_children"] == 3
    assert out[3]["status"] == "too_few" and out[3]["n_children"] == 0
    assert out[4]["status"] == "too_few"


def test_cardinality_violations_no_upper_bound(spark):
    from data_check_spark.operators.referential import cardinality_violations

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame([(1,)] * 9, "fk long")
    out = cardinality_violations(
        parent, child, parent_key="pk", child_key="fk", min_children=1,
    ).collect()
    assert [(r["key"], r["status"]) for r in out] == [(2, "too_few")]


def test_cardinality_violations_bounds_guard(spark):
    import pytest as _pytest

    from data_check_spark.operators.referential import cardinality_violations

    df = spark.createDataFrame([(1,)], "pk long")
    with _pytest.raises(ValueError):
        cardinality_violations(df, df, parent_key="pk", child_key="pk",
                               min_children=3, max_children=2)
    with _pytest.raises(ValueError):
        cardinality_violations(df, df, parent_key="pk", child_key="pk",
                               min_children=-1)


def test_cardinality_engine_rule_kind(spark):
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    clips = spark.createDataFrame(
        [("c1", "p0"), ("c2", "p0"), ("c3", "p1")],
        "clip_id string, partition string",
    )
    # c1 has 1 transcript (ok), c2 has 2 (too_many), c3 has none (too_few)
    tr = spark.createDataFrame(
        [("c1",), ("c2",), ("c2",)], "tkey string"
    )
    catalog = RuleCatalog([
        Rule("TRANSCRIPT_EXACTLY_ONE", "cardinality", None,
             {"dim": "transcripts", "fact_key": "clip_id", "dim_key": "tkey",
              "min_children": 1, "max_children": 1}),
    ])
    res = run_validation(
        spark, clips, {"transcripts": tr}, catalog, run_ts="2026-01-01 00:00:00",
    )
    rows = {r.clip_id: r for r in res.violations.collect()
            if r.rule_id == "TRANSCRIPT_EXACTLY_ONE"}
    assert set(rows) == {"c2", "c3"}
    assert rows["c2"].observed == "too_many:2" and rows["c2"].partition == "p0"
    assert rows["c3"].observed == "too_few:0" and rows["c3"].partition == "p1"
    verdicts = {r["partition"]: r["passed"] for r in res.verdicts.collect()}
    assert verdicts["p0"] is False and verdicts["p1"] is False


def test_cardinality_missing_dim_escalates(spark):
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    clips = spark.createDataFrame([("c1", "p0")], "clip_id string, partition string")
    catalog = RuleCatalog([
        Rule("TRANSCRIPT_EXACTLY_ONE", "cardinality", None,
             {"dim": "transcripts", "fact_key": "clip_id", "dim_key": "tkey",
              "min_children": 1, "max_children": 1}),
    ])
    res = run_validation(spark, clips, {}, catalog, run_ts="2026-01-01 00:00:00")
    ids = {r.rule_id for r in res.violations.collect()}
    assert "AUX_MISSING_TRANSCRIPTS" in ids and "TRANSCRIPT_EXACTLY_ONE" not in ids
