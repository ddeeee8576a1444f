"""Physical-plan quality assertions — the 100 TB design contract.

These tests pin the properties that make the engine viable at scale:
filters reach the parquet scan, small dims broadcast, aggregations have a
map-side partial phase, scans are column-pruned, and the wide table goes
through exactly ONE python stage.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_filter_pushed_to_scan(spark):
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["topk_open_orders"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)" in plan
    assert "TakeOrderedAndProject" in plan


def test_region_revenue_broadcasts_dims(spark):
    from data_check_spark.queries import QUERIES

    df = QUERIES["region_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "CartesianProduct" not in plan
    # lineitem scan pruned to the join/agg columns only
    import re

    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li = [s for s in scans if "l_extendedprice" in s]
    assert li and "l_shipdate" not in li[0] and "l_tax" not in li[0]


def test_dup_values_has_partial_aggregation(spark):
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["dup_values_lineitem"](spark, SF_DIR))
    # two-phase: map-side partial count before the exchange, final after
    assert "partial_count" in plan or "HashAggregate(keys=" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_duplicate_keys_one_exchange(spark):
    """Uniqueness is one hash aggregate: the map-side partial count and the
    final merge sit around ONE exchange, with no separate salt stage."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.uniqueness import duplicate_keys

    df = spark.range(1000).select((F.col("id") % 400).cast("string").alias("clip_id"))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(duplicate_keys(df, "clip_id"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_row_rules_single_scan(spark):
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["row_rules_orders"](spark, SF_DIR))
    # single-pass property: all 5 rules evaluate over exactly ONE scan
    assert plan.count("Scan parquet") == 1
    assert "Generate explode" in plan


def test_semi_join_is_broadcast(spark):
    """Dim size is unknown to the operator (no count job is spent on it);
    AQE must convert the semi join to broadcast at runtime."""
    from data_check_spark.queries import QUERIES

    df = QUERIES["semi_negative_balance_orders"](spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes the adaptive plan
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "PushedFilters" in plan


def test_referential_no_count_job_when_size_unknown(spark, monkeypatch):
    """Unknown dim size must NOT trigger a count() job (one full dim scan
    per rule per run at cluster scale)."""
    from pyspark.sql import DataFrame

    from data_check_spark.operators.referential import fused_dim_checks

    fact = spark.createDataFrame([("a", "p")], "clip_id string, partition string")
    dim = spark.createDataFrame([("a",)], "clip_id string")

    def boom(self):
        raise AssertionError("count() called during referential plan build")

    monkeypatch.setattr(DataFrame, "count", boom)
    fused_dim_checks(fact, dim, fact_key="clip_id", dim_key="clip_id",
                     anti_rule="FK")  # plan build only — must not count


def test_wide_pass_single_python_stage(spark, tmp_path):
    from data_check_spark.datagen import clips_df
    from data_check_spark.operators.audio import prepare_clips

    path = str(tmp_path / "clips")
    clips_df(spark, 2000, bytes_cap_ms=20).drop("_gen_id", "_viol").write.parquet(path)
    plan = _plan(prepare_clips(spark.read.parquet(path), cap_ms=20))
    # exactly one python boundary over the scan; no ArrowEvalPython join-back
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_text_and_dedup_stay_jvm_side(spark):
    from data_check_spark.operators.dedup import minhash_signatures
    from data_check_spark.operators.text import quality_score

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert "EvalPython" not in _plan(quality_score(docs))
    assert "EvalPython" not in _plan(minhash_signatures(docs))


def test_date_parse_single_scan(spark):
    """Both date_parse outputs (primary + parse-error escalation) evaluate
    in the same single-pass projection as every other row-local rule."""
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["date_parse_orders"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1
    assert "Generate explode" in plan


def test_corpus_curation_single_scan(spark):
    """Fingerprint + quality + lang-ID compute in ONE text scan; at 100 TB
    three joined projections would triple the dominant IO."""
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["corpus_curation_documents"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1


def test_cardinality_child_folds_before_join(spark):
    """Cardinality: the child side must collapse to (key, count) with a
    map-side partial BEFORE its exchange — child rows never shuffle — and
    the keyed join must not degrade to a nested loop."""
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["cardinality_orders_lineitem"](spark, SF_DIR))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_benford_single_scan_and_pruned(spark):
    """Benford: exactly one scan of orders, pruned to the value column."""
    import re

    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["benford_orders"](spark, SF_DIR))
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(scans) == 1
    assert "o_totalprice" in scans[0] and "o_orderkey" not in scans[0]


def test_label_conflict_no_text_past_first_projection(spark):
    """Duplicate-label conflicts: the raw text must die in the scan-side
    projection (only the 128-bit fingerprint shuffles)."""
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["label_conflict_documents"](spark, SF_DIR))
    # the only data exchange is keyed by the md5 fingerprint (two-phase
    # aggregate); raw text never reaches a shuffle
    assert "hashpartitioning(fingerprint" in plan
    assert "hashpartitioning(text" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_extraction_quality_single_scan_no_shuffle(spark):
    from data_check_spark.queries import QUERIES

    plan = _plan(QUERIES["extraction_quality_documents"](spark, SF_DIR))
    # pure JVM projection: one parquet scan, no exchange, no python stage
    assert plan.count("FileScan parquet") == 1
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_literal_frame_is_jvm_only(spark):
    """Driver-side literal rows scan no RDD: a Python-RDD scan would start a
    Python worker per task that runs no UDF."""
    from data_check_spark.schemas import VIOLATIONS_SCHEMA, literal_frame

    for rows in ([("R", None, "p0", "x"), ("S", "c1", None, None)], []):
        plan = _plan(literal_frame(spark, rows, VIOLATIONS_SCHEMA))
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan
        assert "Python" not in plan and "Pandas" not in plan


def test_drift_plan_scans_no_python_rdd(spark, tmp_path):
    """The drift rule table joins in as JVM literals: the only Python in the
    plan is the two t-digest stages over the table itself."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.drift import drift_violations_multi, make_baseline

    current = spark.range(1200).select(
        F.concat(F.lit("p"), (F.col("id") % 6).cast("string")).alias("partition"),
        (F.col("id") * 7 % 1000).cast("double").alias("dur_ms"),
    )
    path = str(tmp_path / "baseline")
    make_baseline(spark, current, ["dur_ms"]).write.parquet(path)
    rules = [("DRIFT", "dur_ms", 0.25), ("DRIFT_WARN", "dur_ms", 0.1)]
    plan = _plan(drift_violations_multi(current, spark.read.parquet(path), rules))
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    assert plan.count("MapInPandas") == 2 and plan.count("FlatMapGroupsInPandas") == 1


def test_owner_batch_plans_one_dim_join(spark, tmp_path, monkeypatch):
    """An owner batch (partitions excluded) runs the FK-anti, orphan and
    transcript-match rules in ONE join that reads the transcripts dim once;
    the excluded partitions' keys join only to clear orphans."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.spec import Rule, RuleCatalog

    clips = spark.createDataFrame(
        [("a", "t", "p0"), ("b", "t", "p1"), ("c", "x", "p0")],
        "clip_id string, transcript string, partition string",
    )
    # Keep the violations plan inspectable: the engine checkpoints it.
    monkeypatch.setattr(type(clips), "localCheckpoint", lambda self, eager=True: self)
    path = str(tmp_path / "transcripts")
    spark.createDataFrame(
        [("a", "t"), ("b", "t"), ("z", "t")], "clip_id string, transcript_ref string"
    ).write.parquet(path)
    catalog = RuleCatalog([
        Rule("FK", "referential", "clip_id", {"dim": "transcripts", "mode": "anti"}),
        Rule("ORPHAN", "referential", "clip_id", {"dim": "transcripts", "mode": "orphan"}),
        Rule("MATCH", "transcript_match", "transcript",
             {"dim": "transcripts", "ref_column": "transcript_ref"}),
    ])
    res = run_validation(
        spark, clips, {"transcripts": spark.read.parquet(path)}, catalog,
        run_ts="2026-01-01 00:00:00", exclude_partitions=["p1"],
    )
    plan = res.violations._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join ") == 1 and "Join FullOuter" in plan
    assert plan.count("parquet") == 1  # the dim, read once
    got = {(r["rule_id"], r["clip_id"]) for r in res.violations.collect()
           if not r["rule_id"].startswith("SCHEMA")}
    assert got == {("FK", "c"), ("ORPHAN", "z")}
