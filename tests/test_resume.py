"""Checkpoint/resume semantics: pruning, global-grain rules, re-emission."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from data_check_spark.checkpoint import write_checkpoint
from data_check_spark.engine import run_validation
from data_check_spark.operators.drift import make_baseline
from data_check_spark.rules.spec import Rule, RuleCatalog

CATALOG = RuleCatalog(
    [
        Rule("R_SR_POSITIVE", "range", "sr_hz", {"min": 1}),
        Rule("R_ID_UNIQUE", "unique", "clip_id"),
        Rule("R_DUP_VALUES", "aggregate_unique", "clip_id"),
        Rule("R_FK", "referential", "clip_id",
             {"dim": "transcripts", "dim_key": "clip_id", "mode": "anti"}),
        Rule("R_ORPHAN", "referential", "clip_id",
             {"dim": "transcripts", "dim_key": "clip_id", "mode": "orphan"}),
    ]
)


def _validate(spark, *args, **kwargs):
    """``run_validation`` plus the caller's checkpoint append, in the job's
    output-then-checkpoint order (the engine only reads the checkpoint)."""
    res = run_validation(spark, *args, **kwargs)
    if kwargs.get("checkpoint_dir"):
        write_checkpoint(res.verdicts, kwargs["checkpoint_dir"], res.run_id)
    return res


@pytest.fixture()
def data(spark):
    # partitions p0 (clean-ish) and p1; dup pair spans p0 and p1.
    clips = spark.createDataFrame(
        [
            ("a", 16000, 100, "flac", "t", "p0"),
            ("b", 16000, 100, "flac", "t", "p0"),
            ("dup", 16000, 100, "flac", "t", "p0"),
            ("dup", -1, 100, "flac", "t", "p1"),     # dup across partitions + bad sr
            ("c", 16000, 100, "flac", "t", "p1"),
            ("nofk", 16000, 100, "flac", "t", "p1"),  # not in transcripts
        ],
        "clip_id string, sr_hz int, dur_ms int, codec string, transcript string, partition string",
    )
    tr = spark.createDataFrame(
        [("a", "t"), ("b", "t"), ("dup", "t"), ("c", "t"), ("orphan_row", "t")],
        "clip_id string, transcript_ref string",
    )
    return clips, tr


def test_fresh_run_then_full_resume(spark, data, tmp_path):
    clips, tr = data
    ckpt = str(tmp_path / "ckpt")
    res1 = _validate(
        spark, clips, {"transcripts": tr}, CATALOG,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt,
    )
    s1 = res1.summary()
    assert s1["per_rule"]["R_ID_UNIQUE"] == 2
    assert s1["per_rule"]["R_ORPHAN"] == 1
    assert s1["per_rule"]["R_SR_POSITIVE"] == 1
    assert s1["per_rule"]["R_FK"] == 1

    # Resume on unchanged data: no partitions rescanned; row-grain rules
    # emit nothing; global-grain rules re-emit current global state only.
    res2 = _validate(
        spark, clips, {"transcripts": tr}, CATALOG,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt, resume=True,
    )
    assert res2.rows_scanned == 0
    s2 = res2.summary()
    assert "R_SR_POSITIVE" not in s2["per_rule"]
    assert "R_FK" not in s2["per_rule"]
    assert "R_ID_UNIQUE" not in s2["per_rule"]   # rows in completed partitions
    assert s2["per_rule"]["R_ORPHAN"] == 1       # global state re-emitted
    assert s2["per_rule"]["R_DUP_VALUES"] == 1


def test_resume_catches_cross_partition_dup(spark, data, tmp_path):
    clips, tr = data
    ckpt = str(tmp_path / "ckpt2")
    # First run validates only p0.
    _validate(
        spark, clips.filter(F.col("partition") == "p0"),
        {"transcripts": tr}, CATALOG,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt,
    )
    # Resumed run over the full table: p0 pruned from the wide pass, but the
    # duplicate spanning p0/p1 must still be reported for the NEW p1 row.
    res = _validate(
        spark, clips, {"transcripts": tr}, CATALOG,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt, resume=True,
    )
    assert res.rows_scanned == 3  # only p1
    viol = {(r["rule_id"], r["clip_id"], r["partition"]) for r in res.violations.collect()}
    assert ("R_ID_UNIQUE", "dup", "p1") in viol
    assert ("R_ID_UNIQUE", "dup", "p0") not in viol  # p0 row already reported
    assert ("R_SR_POSITIVE", "dup", "p1") in viol
    assert ("R_FK", "nofk", "p1") in viol


def test_checkpoint_latest_wins(spark, data, tmp_path):
    """A partition marked failed AFTER a done row is re-validated."""
    import data_check_spark.checkpoint as cp

    clips, tr = data
    ckpt = str(tmp_path / "ckpt3")
    _validate(
        spark, clips, {"transcripts": tr}, CATALOG,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt,
    )
    assert sorted(cp.completed_partitions(spark, ckpt)) == ["p0", "p1"]
    import time

    time.sleep(1.1)
    cp.mark_failed(spark, ckpt, "p1", "rerun")
    assert cp.completed_partitions(spark, ckpt) == ["p0"]


def test_reliable_cache_path(spark, tmp_path):
    """reliable_cache writes the wide pass to the cluster checkpoint dir
    (fault-tolerant) and produces identical results to the default path."""
    from data_check_spark import datagen
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips = datagen.clips_df(spark, 1000, bytes_cap_ms=20).drop("_gen_id", "_viol")
    dims = {"transcripts": datagen.transcripts_df(spark, 1000)}
    cat = audio_catalog(bytes_cap_ms=20)
    kwargs = dict(run_ts="2026-01-01 00:00:00")
    base = run_validation(spark, clips, dims, cat, **kwargs)
    rel = _validate(
        spark, clips, dims, cat,
        checkpoint_dir=str(tmp_path / "ckpt"), reliable_cache=True, **kwargs,
    )
    key = lambda df: sorted(
        (r["rule_id"], r["clip_id"], r["partition"], r["observed"])
        for r in df.collect()
    )
    assert key(rel.violations) == key(base.violations)


def test_reliable_cache_requires_dir(spark):
    import pytest

    from data_check_spark import datagen
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.catalog_audio import audio_catalog

    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set session-wide")
    clips = datagen.clips_df(spark, 100, bytes_cap_ms=20).drop("_gen_id", "_viol")
    with pytest.raises(ValueError, match="reliable_cache"):
        run_validation(spark, clips, {}, audio_catalog(bytes_cap_ms=20),
                       run_ts="2026-01-01 00:00:00", reliable_cache=True)


def test_resume_through_reliable_cache(spark, tmp_path):
    """Resume works through the reliable-checkpoint path too: a second run
    with resume=True skips completed partitions while global-grain rules
    still see the full key set."""
    from pyspark.sql import functions as F

    from data_check_spark import datagen
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.catalog_audio import audio_catalog

    ckpt = str(tmp_path / "ckpt")
    # 4000 rows: the duplicate-pool buckets are populated at this scale
    # (n=1000 can produce zero repeated values)
    clips = datagen.clips_df(spark, 4000, bytes_cap_ms=20).drop("_gen_id", "_viol")
    dims = {"transcripts": datagen.transcripts_df(spark, 4000)}
    cat = audio_catalog(bytes_cap_ms=20)

    # first run: half the partitions
    half = clips.filter(F.col("partition") < "p0064")
    r1 = _validate(spark, half, dims, cat, run_ts="2026-01-01 00:00:00",
                        checkpoint_dir=ckpt, reliable_cache=True)
    done1 = r1.verdicts.count()
    assert done1 > 0

    # resumed full run, reliable path: only the remaining partitions rescan
    r2 = _validate(spark, clips, dims, cat, run_ts="2026-01-01 00:00:00",
                        checkpoint_dir=ckpt, resume=True, reliable_cache=True)
    parts2 = {r["partition"] for r in r2.verdicts.collect()}
    assert all(p >= "p0064" for p in parts2)
    # cross-half duplicate coverage: global-grain dup VALUES from the
    # resumed run must equal a fresh full run's (the key scan sees
    # everything even though completed partitions are pruned)
    full = run_validation(spark, clips, dims, cat, run_ts="2026-01-01 00:00:00")
    dup_vals = lambda res: {
        r["clip_id"]
        for r in res.violations.filter(F.col("rule_id") == "CLIP_ID_DUP_VALUES").collect()
    }
    want = dup_vals(full)
    assert want and dup_vals(r2) == want


def test_resume_prunes_partitions_at_scan(spark, tmp_path):
    """Resume must prune completed partitions at the SOURCE — the partition
    filter reaches the file scan (PartitionFilters) and files of done
    partitions are never listed, so a resumed run over 10^12 rows pays I/O
    only for the remaining partitions, not a rescan + post-filter."""
    from data_check_spark.checkpoint import prune_completed

    table = str(tmp_path / "clips_parted")
    spark.createDataFrame(
        [(f"c{i:03d}", f"p{i % 8:04d}") for i in range(64)],
        "clip_id string, partition string",
    ).write.partitionBy("partition").parquet(table)

    done = [f"p{i:04d}" for i in range(6)]  # 6 of 8 partitions already done
    pruned = prune_completed(spark.read.parquet(table), done)

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "NOT partition" in plan

    # physical evidence: the executed scan reads 2 of the 8 partition dirs
    # (inputFiles() reflects the unfiltered relation, so probe the scan's
    # own numPartitions metric after the action instead)
    pruned.collect()
    ep = pruned._jdf.queryExecution().executedPlan()
    try:  # unwrap AdaptiveSparkPlanExec when AQE kicks in
        ep = ep.executedPlan()
    except Exception:
        pass
    leaves = ep.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.length())]
    metrics = {}
    it = scans[0].metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    assert metrics["numPartitions"] == 2
    assert {r["partition"] for r in pruned.select("partition").distinct().collect()} == {
        "p0006", "p0007",
    }


def test_resume_cardinality_counts_children_globally(spark, tmp_path):
    # Clip c_low's transcripts live ONLY in p0-adjacent data; on a resumed
    # run where p0 is done, the cardinality rule must still count children
    # over the WHOLE child table (global grain) and must not re-report
    # parents in completed partitions.
    clips = spark.createDataFrame(
        [("c_ok", "p0"), ("c_many", "p1"), ("c_none", "p1")],
        "clip_id string, partition string",
    )
    tr = spark.createDataFrame(
        [("c_ok",), ("c_many",), ("c_many",)], "tkey string"
    )
    catalog = RuleCatalog([
        Rule("CARD_ONE", "cardinality", None,
             {"dim": "transcripts", "fact_key": "clip_id", "dim_key": "tkey",
              "min_children": 1, "max_children": 1}),
    ])
    ckpt = str(tmp_path / "ckpt_card")
    _validate(
        spark, clips.filter(F.col("partition") == "p0"),
        {"transcripts": tr}, catalog,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt,
    )
    res = _validate(
        spark, clips, {"transcripts": tr}, catalog,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt, resume=True,
    )
    viol = {(r["clip_id"], r["observed"]) for r in res.violations.collect()
            if r["rule_id"] == "CARD_ONE"}
    # p1 parents reported with globally-correct counts; p0 parent not re-reported
    assert viol == {("c_many", "too_many:2"), ("c_none", "too_few:0")}


# ---------------------------------------------------------------------------
# Partition-batched runs (run_validation(exclude_partitions=...), the
# jobs/validate_job.py --partition-batches machinery): the union of the
# batched runs' violations must be MULTISET-identical to the single-run
# output — cross-batch duplicates, orphans, and NULL-partition rows
# included — and a relaunch past a completed batch must not rescan it.
# ---------------------------------------------------------------------------

@pytest.fixture()
def batch_data(spark):
    clips = spark.createDataFrame(
        [
            ("a", 16000, 100, "flac", "t", "p0"),
            ("dup", 16000, 100, "flac", "t", "p0"),
            ("dup", -1, 100, "flac", "t", "p1"),     # dup spans p0/p1 + bad sr
            ("c", 16000, 100, "flac", "t", "p1"),
            ("nofk", 16000, 100, "flac", "t", "p2"),  # not in transcripts
            ("nullrow", -5, 100, "flac", "t", None),  # NULL partition, bad sr
        ],
        "clip_id string, sr_hz int, dur_ms int, codec string, transcript string, partition string",
    )
    tr = spark.createDataFrame(
        [("a", "t"), ("dup", "t"), ("c", "t"), ("orphan_row", "t")],
        "clip_id string, transcript_ref string",
    )
    return clips, tr


def _vset(df):
    return Counter(
        (r["rule_id"], r["clip_id"], r["partition"], r["observed"])
        for r in df.collect()
    )


def test_batched_union_equals_single_run(spark, batch_data, tmp_path):
    clips, tr = batch_data
    single = run_validation(
        spark, clips, {"transcripts": tr}, CATALOG, run_ts="2026-01-01 00:00:00"
    )
    want = _vset(single.violations)

    ckpt = str(tmp_path / "ckpt")
    chunks = [["p0"], ["p1"], ["p2"]]
    got = None
    scanned = 0
    for i, chunk in enumerate(chunks):
        res = _validate(
            spark, clips, {"transcripts": tr}, CATALOG,
            run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt, resume=True,
            exclude_partitions=[p for c in chunks if c is not chunk for p in c],
            batch_member=(i > 0),
        )
        scanned += res.rows_scanned
        v = _vset(res.violations)
        got = v if got is None else got + v
    assert got == want
    assert scanned == clips.count()  # every row validated exactly once
    # every batch's verdicts landed in the checkpoint
    from data_check_spark import checkpoint as cp

    assert set(cp.completed_partitions(spark, ckpt)) == {"p0", "p1", "p2"}


# One rule of every set-oriented kind (referential in each mode, outlier
# grouped both ways), plus two multi-rule dim joins: the batched union must
# equal the single run, which pins each kind's grain — a global-grain kind
# the engine treated as partition grain would report batch 0's partitions
# only.
KIND_CASES = {
    "unique": [Rule("K", "unique", "clip_id")],
    "aggregate_unique": [Rule("K", "aggregate_unique", "clip_id")],
    "referential_anti": [Rule("K", "referential", "clip_id",
                              {"dim": "transcripts", "mode": "anti"})],
    "referential_semi": [Rule("K", "referential", "clip_id",
                              {"dim": "transcripts", "mode": "semi"})],
    "referential_orphan": [Rule("K", "referential", "clip_id",
                                {"dim": "transcripts", "mode": "orphan"})],
    "drift": [Rule("K", "drift", "dur_ms", {"threshold": 0.25})],
    "cat_drift": [Rule("K", "cat_drift", "codec", {"threshold_bp": 1000, "min_rows": 1})],
    "rate_drift": [Rule("K", "rate_drift", None,
                        {"predicate": "sr_hz < 0", "threshold_bp": 100, "min_rows": 1})],
    "volume_drift": [Rule("K", "volume_drift", None, {"threshold_bp": 2000})],
    "audio_decode": [Rule("K", "audio_decode", "bytes", {"snr_db_min": 30.0})],
    "agg_threshold": [Rule("K", "agg_threshold", None,
                           {"metric_expr": "count(1)", "max_value": 1})],
    "outlier_by_partition": [Rule("K", "outlier", "dur_ms")],
    "outlier_by_codec": [Rule("K", "outlier", "dur_ms", {"group_by": "codec"})],
    "func_dep": [Rule("K", "func_dep", "sr_hz", {"determinant": ["codec"]})],
    "reconcile": [Rule("K", "reconcile", "total",
                       {"dim": "transcripts", "amount_col": "amount"})],
    "cardinality": [Rule("K", "cardinality", None,
                         {"dim": "transcripts", "min_children": 1, "max_children": 1})],
    "transcript_match": [Rule("K", "transcript_match", "transcript",
                              {"dim": "transcripts", "ref_column": "transcript_ref"})],
    "transcript_wer": [Rule("K", "transcript_wer", "transcript",
                            {"dim": "transcripts", "max_wer_bp": 1000})],
    # one dim join: a gated anti rule, the orphan rule and the match rule
    "dim_group": [
        Rule("K", "referential", "clip_id", {"dim": "transcripts", "mode": "anti"},
             gate="codec = 'wav'"),
        Rule("K_ORPHAN", "referential", "clip_id", {"dim": "transcripts", "mode": "orphan"}),
        Rule("K_MATCH", "transcript_match", "transcript",
             {"dim": "transcripts", "ref_column": "transcript_ref"}),
    ],
    # two rules for one slot: the second starts a dim join of its own
    "two_anti_gates": [
        Rule("K", "referential", "clip_id", {"dim": "transcripts", "mode": "anti"},
             gate="codec = 'wav'"),
        Rule("K2", "referential", "clip_id", {"dim": "transcripts", "mode": "anti"},
             gate="sr_hz < 0"),
    ],
}


@pytest.fixture(scope="module")
def kinds_data(spark):
    clips = spark.createDataFrame(
        [
            ("a", 16000, 100, "flac", "t", 10, "p0"),
            ("dup", 16000, 120, "flac", "t", 5, "p0"),
            ("b", 16000, 9000, "flac", "t x", 7, "p0"),
            ("e", 16000, 110, "wav", "t", 0, "p0"),
            ("dup", -1, 100, "mp3", "t", 5, "p1"),
            ("c", 8000, 105, "flac", "t", 3, "p1"),
            ("f", 16000, 100, "mp3", "t", 1, "p1"),
            ("g", 16000, 95, "mp3", "t", 1, "p1"),
            ("nofk", 16000, 100, "wav", "t", 2, "p2"),
            ("nullrow", -5, 100, "flac", "t", 0, None),
        ],
        "clip_id string, sr_hz int, dur_ms int, codec string, transcript string, "
        "total int, partition string",
    )
    tr = spark.createDataFrame(
        [("a", "t", 10), ("dup", "t", 5), ("b", "t y", 7), ("e", "t", 1), ("c", "t", 2),
         ("c", "t", 1), ("f", "t", 1), ("g", "u", 1), ("orphan_row", "t", 4)],
        "clip_id string, transcript_ref string, amount int",
    )
    baseline = make_baseline(
        spark, clips.select("partition", F.lit(100).alias("dur_ms")), ["dur_ms"]
    )
    return clips, {"transcripts": tr, "baseline_stats": baseline}


@pytest.mark.parametrize("case", sorted(KIND_CASES))
def test_batched_union_equals_single_run_every_kind(spark, kinds_data, tmp_path, case):
    clips, dims = kinds_data
    catalog = RuleCatalog(KIND_CASES[case])
    single = _vset(run_validation(spark, clips, dims, catalog, run_ts="2026-01-01 00:00:00")
                   .violations)
    if case != "audio_decode":  # a bytes-free table has no SNR to breach
        assert {r.rule_id for r in catalog} <= {k[0] for k in single}, single
    chunks = [["p0"], ["p1", "p2"]]
    got = sum(
        (_vset(_validate(
            spark, clips, dims, catalog, run_ts="2026-01-01 00:00:00",
            checkpoint_dir=str(tmp_path / "ckpt"), resume=True,
            exclude_partitions=[p for c in chunks if c is not chunk for p in c],
            batch_member=(i > 0),
        ).violations) for i, chunk in enumerate(chunks)),
        Counter(),
    )
    assert got == single


def test_batched_relaunch_skips_completed_batches(spark, batch_data, tmp_path):
    clips, tr = batch_data
    ckpt = str(tmp_path / "ckpt")
    chunks = [["p0", "p1"], ["p2"]]

    def run_batch(i):
        return _validate(
            spark, clips, {"transcripts": tr}, CATALOG,
            run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt, resume=True,
            exclude_partitions=[p for c in chunks if c is not chunks[i] for p in c],
            batch_member=(i > 0),
        )

    first = run_batch(0)
    assert first.rows_scanned == 5  # p0+p1 rows + the NULL-partition row
    # "relaunch": batch 0 again — its partitions are checkpointed, so only
    # the NULL-partition row (never checkpointable) is rescanned
    again = run_batch(0)
    assert again.rows_scanned == 1
    # then the remaining batch completes the run
    second = run_batch(1)
    assert second.rows_scanned == 1  # p2's row only
    s = second.summary()
    assert s["per_rule"].get("R_FK") == 1          # nofk caught in its batch
    assert "R_ORPHAN" not in s["per_rule"]         # batch 0 owns global state


def test_validate_job_dry_run_plan(spark, batch_data, tmp_path, capsys):
    """--dry-run prints the batch plan (LPT row balance, resume state) and
    validates nothing."""
    import json as _json

    from jobs.validate_job import main as job_main

    clips, tr = batch_data
    inp = str(tmp_path / "clips")
    trp = str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)
    rc = job_main([
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--partition-batches", "2", "--dry-run",
    ])
    assert rc == 0
    plan = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert plan["dry_run"] is True
    assert plan["partitions"] == 3 and plan["null_partition_rows"] == 1
    assert plan["rows"] == 6
    assert len(plan["batches"]) == 2
    assert sum(b["rows"] for b in plan["batches"]) == 5  # non-NULL rows
    assert plan["already_complete"] == []
    # nothing was validated or checkpointed
    import os as _os

    assert not _os.path.exists(str(tmp_path / "ck"))


def test_batched_relaunch_union_multiset(spark, batch_data, tmp_path, monkeypatch):
    """Crash-recovery exactly-once: job crashes after the owner batch, the
    relaunch completes the run, and the union of BOTH attempts' outputs is
    multiset-identical to a single run — the relaunched batch 0 must not
    re-emit run-level synthetics, NULL-partition rows, or global-grain rows
    (it sees the owner-completion sentinel and runs as a member)."""
    from collections import Counter

    from jobs.validate_job import main as job_main
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips, tr = batch_data
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)

    want = _vset(run_validation(
        spark, spark.read.parquet(inp), {"transcripts": spark.read.parquet(trp)},
        audio_catalog(bytes_cap_ms=100), run_ts="2026-01-01 00:00:00",
    ).violations)

    args = [
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--partition-batches", "3",
        "--run-ts", "2026-01-01 00:00:00",
    ]
    monkeypatch.setenv("DATA_CHECK_TEST_CRASH_AFTER_BATCH", "0")
    with pytest.raises(RuntimeError, match="injected crash"):
        job_main(list(args))
    monkeypatch.delenv("DATA_CHECK_TEST_CRASH_AFTER_BATCH")
    assert job_main(list(args)) == 0

    out = spark.read.parquet(str(tmp_path / "out" / "violations"))
    got = Counter(
        (r["rule_id"], r["clip_id"], r["partition"], r["observed"])
        for r in out.collect()
    )
    assert got == want
    # attempt 1's batch 0 + the relaunch together scan each row exactly once
    verd = spark.read.parquet(str(tmp_path / "out" / "verdicts"))
    assert verd.agg(F.sum("rows_scanned")).collect()[0][0] == clips.count()


def test_orphan_attempt_reconciled(spark, batch_data, tmp_path, monkeypatch):
    """Crash BETWEEN a batch's output appends and its checkpoint write
    leaves an orphan attempt (committed rows under an un-checkpointed
    run_id); the relaunch re-validates that batch. The raw appends are
    at-least-once, and reconcile_outputs must recover the exact single-run
    multiset — for the verdicts too, including member partitions whose
    only violations are owner-emitted global-grain rows."""
    from collections import Counter

    from jobs.validate_job import main as job_main
    from data_check_spark.engine import reconcile_outputs
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips, tr = batch_data
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)

    cat = audio_catalog(bytes_cap_ms=100)
    single = run_validation(
        spark, spark.read.parquet(inp), {"transcripts": spark.read.parquet(trp)},
        cat, run_ts="2026-01-01 00:00:00",
    )
    want_v = _vset(single.violations)
    want_d = Counter(
        (r["partition"], r["passed"], r["rows_scanned"], r["violations"])
        for r in single.verdicts.collect()
    )

    args = [
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--partition-batches", "3",
        "--run-ts", "2026-01-01 00:00:00",
    ]
    # crash after batch 1's outputs land but before its checkpoint
    monkeypatch.setenv("DATA_CHECK_TEST_CRASH_BEFORE_CKPT", "1")
    with pytest.raises(RuntimeError, match="before checkpoint"):
        job_main(list(args))
    monkeypatch.delenv("DATA_CHECK_TEST_CRASH_BEFORE_CKPT")
    assert job_main(list(args)) == 0

    # the RAW appends double-report batch 1 (orphan + relaunch attempt) ...
    raw = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert sum(_vset(raw).values()) >= sum(want_v.values())
    # ... and reconciliation recovers the exact single-run multisets
    warning_ids = [r.rule_id for r in cat if r.severity == "warning"]
    fv, fd = reconcile_outputs(
        spark, str(tmp_path / "out"), str(tmp_path / "ck"), warning_ids=warning_ids
    )
    assert _vset(fv) == want_v
    got_d = Counter(
        (r["partition"], r["passed"], r["rows_scanned"], r["violations"])
        for r in fd.collect()
    )
    assert got_d == want_d
    # the job also wrote the reconciled views
    final_v = spark.read.parquet(str(tmp_path / "out" / "violations_final"))
    assert _vset(final_v) == want_v


@pytest.mark.parametrize("seam,batch", [
    ("DATA_CHECK_TEST_CRASH_AFTER_BATCH", 0),
    ("DATA_CHECK_TEST_CRASH_AFTER_BATCH", 1),
    ("DATA_CHECK_TEST_CRASH_BEFORE_CKPT", 0),
    ("DATA_CHECK_TEST_CRASH_BEFORE_CKPT", 2),
])
def test_crash_point_sweep_reconciles_exactly(
    spark, batch_data, tmp_path, monkeypatch, seam, batch
):
    """Every crash point — after any batch's checkpoint, or inside any
    batch's orphan window (outputs committed, checkpoint not) — must
    reconcile to the exact single-run violation multiset after a relaunch.
    Sweeping both seams over owner and member batches covers the cases the
    two targeted tests above pin individually."""
    from jobs.validate_job import main as job_main
    from data_check_spark.engine import reconcile_outputs
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips, tr = batch_data
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)

    cat = audio_catalog(bytes_cap_ms=100)
    want = _vset(run_validation(
        spark, spark.read.parquet(inp), {"transcripts": spark.read.parquet(trp)},
        cat, run_ts="2026-01-01 00:00:00",
    ).violations)

    args = [
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--partition-batches", "3",
        "--run-ts", "2026-01-01 00:00:00",
    ]
    monkeypatch.setenv(seam, str(batch))
    with pytest.raises(RuntimeError, match="injected crash"):
        job_main(list(args))
    monkeypatch.delenv(seam)
    assert job_main(list(args)) == 0

    warning_ids = [r.rule_id for r in cat if r.severity == "warning"]
    fv, _fd = reconcile_outputs(
        spark, str(tmp_path / "out"), str(tmp_path / "ck"), warning_ids=warning_ids
    )
    assert _vset(fv) == want


def test_single_run_resume_reconciles_null_rows(spark, batch_data, tmp_path):
    """Non-batched job with a checkpoint: a resumed relaunch re-emits
    NULL-partition rows and run-level synthetics under its new run_id (by
    design — they are never checkpointable), so the raw union double-counts
    them; the job's reconciled views must collapse back to the single-run
    multiset."""
    from jobs.validate_job import main as job_main
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips, tr = batch_data
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)

    want = _vset(run_validation(
        spark, spark.read.parquet(inp), {"transcripts": spark.read.parquet(trp)},
        audio_catalog(bytes_cap_ms=100), run_ts="2026-01-01 00:00:00",
    ).violations)

    args = [
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--run-ts", "2026-01-01 00:00:00",
    ]
    assert job_main(list(args)) == 0
    # relaunch with --resume: all partitions complete, but NULL rows +
    # run-level synthetics are re-emitted under the second run_id
    assert job_main(list(args) + ["--resume"]) == 0

    raw = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert sum(_vset(raw).values()) > sum(want.values())  # raw double-counts
    final = spark.read.parquet(str(tmp_path / "out" / "violations_final"))
    assert _vset(final) == want
    # the NULL-partition VERDICT row is also re-emitted per attempt and must
    # reconcile to exactly one (round-4 review finding: the verdict filter
    # needs the same lineage restriction as NULL violations)
    fd = spark.read.parquet(str(tmp_path / "out" / "verdicts_final"))
    assert fd.filter(F.col("partition").isNull()).count() == 1
    assert fd.count() == fd.select("partition").distinct().count()


def test_empty_input_with_checkpoint_reconciles(spark, tmp_path):
    """Empty fact table + checkpoint dir: the run emits EMPTY_INPUT and a
    zero-row checkpoint; reconciliation must anchor on the run's own
    lineage instead of crashing on an empty max()."""
    from jobs.validate_job import main as job_main

    clips = spark.createDataFrame(
        [],
        "clip_id string, sr_hz int, dur_ms int, codec string, "
        "transcript string, partition string",
    )
    tr = spark.createDataFrame([("a", "t")], "clip_id string, transcript_ref string")
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)
    rc = job_main([
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--run-ts", "2026-01-01 00:00:00",
    ])
    assert rc == 0
    final = spark.read.parquet(str(tmp_path / "out" / "violations_final"))
    rows = [(r["rule_id"], r["partition"]) for r in final.collect()]
    assert ("EMPTY_INPUT", None) in rows


def test_job_export_result_report(spark, batch_data, tmp_path):
    """--export-result writes the reference-shaped triage report (message-
    enriched violations) as a real workbook, driven from the reconciled
    view when a checkpoint is configured."""
    from jobs.validate_job import main as job_main
    from data_check_spark.sources.xlsx import read_xlsx_df

    clips, tr = batch_data
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)
    report = str(tmp_path / "report.xlsx")
    rc = job_main([
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--partition-batches", "2",
        "--run-ts", "2026-01-01 00:00:00",
        "--export-result", report,
    ])
    assert rc == 0
    back = read_xlsx_df(spark, report)
    assert back.columns == [
        "rule_id", "clip_id", "partition", "observed", "message", "severity"
    ]
    final = spark.read.parquet(str(tmp_path / "out" / "violations_final"))
    assert back.count() == final.count()
    # enrichment live: every row carries a non-null message
    assert back.filter("message IS NULL OR message = ''").count() == 0


def test_mark_failed_relaunch_reconciles_exactly(spark, batch_data, tmp_path):
    """Repair workflow (non-batched): a partition marked failed after a
    complete run is re-validated by a --resume relaunch under a SECOND
    checkpointed lineage; the old lineage stays latest for every other
    partition. Reconciliation must keep each partition's rows from its OWN
    latest-done lineage (a flat valid-run_id set double-counted the
    repaired partition — round-4 xhigh review repro)."""
    import time as _time

    from jobs.validate_job import main as job_main
    from data_check_spark import checkpoint as cp
    from data_check_spark.engine import reconcile_outputs
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips, tr = batch_data
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)

    cat = audio_catalog(bytes_cap_ms=100)
    want = _vset(run_validation(
        spark, spark.read.parquet(inp), {"transcripts": spark.read.parquet(trp)},
        cat, run_ts="2026-01-01 00:00:00",
    ).violations)

    args = [
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--run-ts", "2026-01-01 00:00:00",
    ]
    assert job_main(list(args)) == 0
    _time.sleep(1.1)  # completed_at granularity: the failed marker must sort later
    cp.mark_failed(spark, str(tmp_path / "ck"), "p1", "repair")
    assert job_main(list(args) + ["--resume"]) == 0

    warning_ids = [r.rule_id for r in cat if r.severity == "warning"]
    fv, fd = reconcile_outputs(
        spark, str(tmp_path / "out"), str(tmp_path / "ck"), warning_ids=warning_ids
    )
    assert _vset(fv) == want
    # exactly one verdict row per partition (p1's old-lineage row dropped)
    assert fd.count() == fd.select("partition").distinct().count()


def test_batched_empty_input_reports_empty_table(spark, tmp_path):
    """Batched mode hard-codes resume=True, which used to suppress the
    EMPTY_INPUT synthetic entirely — an empty fact table must alarm in
    batched mode exactly as it does in a single run."""
    from jobs.validate_job import main as job_main

    clips = spark.createDataFrame(
        [],
        "clip_id string, sr_hz int, dur_ms int, codec string, "
        "transcript string, partition string",
    )
    tr = spark.createDataFrame([("a", "t")], "clip_id string, transcript_ref string")
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)
    rc = job_main([
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--partition-batches", "2",
        "--run-ts", "2026-01-01 00:00:00",
    ])
    assert rc == 0
    final = spark.read.parquet(str(tmp_path / "out" / "violations_final"))
    empty_rows = final.filter("rule_id = 'EMPTY_INPUT'").count()
    assert empty_rows == 1


def test_mark_failed_on_owner_batch_partition_raises(spark, batch_data, tmp_path):
    """The one shape reconciliation cannot split by grain: mark_failed on a
    partition the OWNER batch validated + relaunch into the same checkpoint
    dir. The owner lineage must stay globally valid (it carries member
    partitions' global-grain rows), so the repaired partition's old rows
    can't be dropped — reconcile_outputs must raise with the
    fresh-checkpoint-dir remedy instead of returning duplicates (ADVICE r04
    medium)."""
    import time as _time

    from jobs.validate_job import main as job_main
    from data_check_spark import checkpoint as cp
    from data_check_spark.engine import reconcile_outputs
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips, tr = batch_data
    inp, trp = str(tmp_path / "clips"), str(tmp_path / "tr")
    clips.write.parquet(inp)
    tr.write.parquet(trp)

    args = [
        "--input", inp, "--transcripts", trp,
        "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ck"),
        "--partition-batches", "2",
        "--run-ts", "2026-01-01 00:00:00",
    ]
    assert job_main(list(args)) == 0

    # find a partition the OWNER batch validated (shares the sentinel lineage)
    ckdf = cp.read_checkpoint(spark, str(tmp_path / "ck"))
    owner_lineage = ckdf.filter(
        F.col("partition") == cp.OWNER_SENTINEL
    ).collect()[0]["lineage"]
    owner_part = ckdf.filter(
        (F.col("lineage") == owner_lineage)
        & (F.col("partition") != cp.OWNER_SENTINEL)
    ).collect()[0]["partition"]

    _time.sleep(1.1)  # completed_at granularity
    cp.mark_failed(spark, str(tmp_path / "ck"), owner_part, "repair")
    # the relaunch re-validates owner_part under a new lineage, then its
    # final reconcile detects the unsplittable shape and raises
    with pytest.raises(ValueError, match="fresh --checkpoint-dir"):
        job_main(list(args) + ["--resume"])
    # direct read view raises too — no silently-duplicated multiset
    cat = audio_catalog(bytes_cap_ms=100)
    warning_ids = [r.rule_id for r in cat if r.severity == "warning"]
    with pytest.raises(ValueError, match=owner_part):
        reconcile_outputs(
            spark, str(tmp_path / "out"), str(tmp_path / "ck"),
            warning_ids=warning_ids,
        )
