"""The traced run: per-layer cost, measured from outside the program.

Spark plans lazily, so a span around a layer's call times only its
planning. Each layer's public function is therefore *replayed* on the
materialized narrow table and forced with a ``noop`` write (or the eager
checkpoint the engine itself uses), under a job group of its own; Spark's
status store then gives that group's jobs, stages, shuffle bytes, task
time and GC time. Nothing inside ``data_check_spark`` is instrumented.

Order: one traced full validation first, cold like the end-to-end run's
validation, so ``trace.wall_s`` minus ``cold_wall_s`` is the tracing
overhead; then the layer replays; then the batched job.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import shutil
import time

from perfbench.stats import Tally, layer_gap, median
from perfbench.workloads import BYTES_CAP_MS, CACHE_DIR, RUN_TS, Workload, catalog
from perfbench.worker import digest, expected_for, free_blocks, load, validate, window_paths

JOB_BATCHES = 2
CRASH_AFTER_BATCH = 0


class StageCounters:
    """Runs a callable under its own job group and sums the status-store
    metrics of the stages its jobs ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsc.sc().statusStore()
        self.n = 0

    def run(self, name: str, fn) -> tuple[float, dict]:
        self.n += 1
        group = f"perfbench-{self.n}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.monotonic()
        try:
            fn()
        finally:
            wall = time.monotonic() - t0
            self.sc.setJobGroup("perfbench-idle", "between layers")
        return wall, self.counters(group)

    def counters(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "run_s": 0.0, "gc_s": 0.0}
        for s in stage_ids:
            try:
                sd = self.store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # evicted from the store
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["run_s"] += sd.executorRunTime() / 1000
            out["gc_s"] += sd.jvmGcTime() / 1000
        return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def wrapped(module, name: str, record):
    """Replace ``module.name`` with a wrapper that passes each call's
    (seconds, result) to ``record``; restored on exit."""
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        t0 = time.monotonic()
        out = orig(*args, **kwargs)
        record(time.monotonic() - t0, out)
        return out

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, orig)


def run_job(spark, root: str, workload: Workload, w: int, tally: Tally) -> dict:
    """``jobs/validate_job.main`` in-process with ``--partition-batches``:
    attempt 1 dies after batch ``CRASH_AFTER_BATCH`` through the job's own
    crash seam, the relaunch with identical args finishes and writes the
    reconciled view, which must equal the single run (exactly-once)."""
    from data_check_spark import checkpoint, engine

    work = os.path.join(root, CACHE_DIR, "tmp", f"job-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    paths = window_paths(root, workload, w)
    argv = ["--input", paths["clips"], "--transcripts", paths["transcripts"],
            "--baseline", paths["baseline_stats"], "--output-dir", f"{work}/out",
            "--checkpoint-dir", f"{work}/ckpt", "--partition-batches", str(JOB_BATCHES),
            "--run-ts", RUN_TS]
    if workload.with_bytes:
        argv += ["--cap-ms", str(BYTES_CAP_MS)]
    else:
        catalog(workload).save(f"{work}/rules.json")
        argv += ["--rules", f"{work}/rules.json"]
    spec = importlib.util.spec_from_file_location(
        "validate_job", os.path.join(root, "jobs", "validate_job.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    batches: list[tuple[int, float, int]] = []  # (attempt, seconds, rows scanned)
    io_s = {"write": 0.0, "read": 0.0}
    reconcile_start: list[float] = []
    attempt = 1

    def on_batch(dt, res):
        batches.append((attempt, dt, res.rows_scanned))

    def on_io(kind):
        def record(dt, _out):
            io_s[kind] += dt
        return record

    def on_reconcile(dt, _out):
        reconcile_start.append(time.monotonic() - dt)

    with contextlib.ExitStack() as stack:
        stack.enter_context(wrapped(engine, "run_validation", on_batch))
        stack.enter_context(wrapped(checkpoint, "write_checkpoint", on_io("write")))
        stack.enter_context(wrapped(checkpoint, "completed_partitions", on_io("read")))
        stack.enter_context(wrapped(checkpoint, "owner_complete", on_io("read")))
        stack.enter_context(wrapped(engine, "reconcile_outputs", on_reconcile))
        stack.enter_context(contextlib.redirect_stdout(io.StringIO()))
        os.environ["DATA_CHECK_TEST_CRASH_AFTER_BATCH"] = str(CRASH_AFTER_BATCH)
        try:
            job.main(argv)
            raise RuntimeError("validate_job did not take its injected crash")
        except RuntimeError as e:
            if "injected crash" not in str(e):
                raise
        finally:
            del os.environ["DATA_CHECK_TEST_CRASH_AFTER_BATCH"]
        free_blocks(spark)
        attempt = 2
        t0 = time.monotonic()
        job.main(argv)
        end = time.monotonic()
    free_blocks(spark)
    recovery_s = end - t0
    # The job plans the reconciled views, writes them and reads them back
    # for its summary: all of that is the relaunch's reconcile cost.
    reconcile_s = end - reconcile_start[-1]

    # Exactly-once is checked on row identity: a drift rule's ``observed``
    # W1 distance comes from t-digests whose merge order follows the batch
    # split, so its last digits may differ from the single run's.
    final = digest(spark.read.parquet(f"{work}/out/violations_final"),
                   spark.read.parquet(f"{work}/out/verdicts_final"))
    single = expected_for(workload, w)
    tally.record(final, {k: single[k] for k in ("violations", "key_hash", "verdict_hash")},
                 "batched reconciled view")
    shutil.rmtree(work, ignore_errors=True)

    full = [dt for _, dt, rows in batches if rows > 0]
    empty = [dt for a, dt, rows in batches if a == 2 and rows == 0]
    return {
        "validate_job.batch_s": median(full),
        "validate_job.empty_batch_s": median(empty),
        "validate_job.rows_rescanned": sum(rows for a, _, rows in batches if a == 2),
        "validate_job.recovery_s": recovery_s,
        "checkpoint.write_s": io_s["write"],
        "checkpoint.read_s": io_s["read"],
        "reconcile.s": reconcile_s,
    }


def narrow_plan(clips, cat):
    """The engine's narrow table before materialization: the single wide
    pass when the table has payloads, its null-feature projection when not
    (engine.run_validation's two branches)."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.audio import SNR_COL, prepare_clips

    if "bytes" in clips.columns:
        audio = [r for r in cat.set_oriented if r.kind == "audio_decode"]
        return prepare_clips(clips, cap_ms=BYTES_CAP_MS, with_snr=bool(audio))
    return clips.withColumn("byte_len", F.lit(None).cast("long")).withColumn(
        SNR_COL, F.lit(None).cast("double"))


def run_trace(spark, root: str, workload: Workload, w: int) -> dict:
    from pyspark.sql import functions as F

    from data_check_spark import engine
    from data_check_spark.operators.drift import categorical_drift_violations, drift_violations_multi
    from data_check_spark.operators.referential import fused_dim_checks
    from data_check_spark.operators.uniqueness import (
        aggregate_unique_violations,
        duplicate_keys,
        unique_violations,
    )
    from data_check_spark.rules.compiler import apply_row_rules, compile_rule_many, gate_condition

    tally = Tally()
    clips, dims = load(spark, root, workload, w)
    cat = catalog(workload)
    counters = StageCounters(spark)
    res = {}

    def full_validation():
        res["res"], res["digest"] = validate(spark, clips, dims, cat)

    wall, eng = counters.run("engine", full_validation)
    tally.record(res["digest"], expected_for(workload, w), "traced validation")
    violations = res["res"].violations
    rows = res["res"].rows_scanned

    layers: dict[str, float] = {}
    narrow_src = narrow_plan(clips, cat)
    narrow = {}

    def wide_pass():
        narrow["df"] = narrow_src.localCheckpoint(eager=True)

    layers["audio.wide_pass_s"], _ = counters.run("audio", wide_pass)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nt = narrow["df"]
    if nt.rdd.getNumPartitions() > 2 * n_parts:  # the engine's own coalesce
        nt = nt.coalesce(2 * n_parts)

    t0 = time.monotonic()
    compiled = [c for r in cat.row_local for c in compile_rule_many(r, RUN_TS)]
    row_viol = apply_row_rules(nt, compiled, partition_col="partition")
    row_viol.schema  # analysis, as the engine's batched probe does
    compile_s = time.monotonic() - t0
    layers["compiler.row_rules_s"], _ = counters.run("row_rules", lambda: noop(row_viol))

    by_kind = {}
    for r in cat.set_oriented:
        by_kind.setdefault(r.kind, []).append(r)
    dups = duplicate_keys(nt, "clip_id").localCheckpoint(eager=False)
    uniq = unique_violations(nt, by_kind["unique"][0].rule_id, "clip_id",
                             partition_col="partition", dups=dups).unionByName(
        aggregate_unique_violations(nt, by_kind["aggregate_unique"][0].rule_id, "clip_id", dups=dups))
    layers["uniqueness.s"], uniq_c = counters.run("uniqueness", lambda: noop(uniq))

    ref = {r.params["mode"]: r for r in by_kind["referential"]}
    match = by_kind["transcript_match"][0]
    anti = ref["anti"]
    fused = fused_dim_checks(
        nt, dims[anti.params["dim"]], fact_key="clip_id", dim_key="clip_id",
        partition_col="partition", anti_rule=anti.rule_id,
        anti_gate=gate_condition(anti.gate, RUN_TS, anti.rule_id) if anti.gate else None,
        orphan_rule=ref["orphan"].rule_id, match_rule=match.rule_id,
        fact_text=match.column, ref_text=match.params.get("ref_column"))
    layers["referential.fused_s"], fused_c = counters.run("referential", lambda: noop(fused))

    drift_rules = [(r.rule_id, r.column, r.params.get("threshold", 0.25)) for r in by_kind["drift"]]
    sketch = drift_violations_multi(nt, dims["baseline_stats"], drift_rules, partition_col="partition")
    layers["drift.sketch_s"], _ = counters.run("drift_sketch", lambda: noop(sketch))
    cd = by_kind["cat_drift"][0]
    cat_drift = categorical_drift_violations(
        nt, cd.rule_id, cd.column, threshold_bp=cd.params.get("threshold_bp", 2500),
        min_rows=cd.params.get("min_rows", 100), partition_col="partition")
    layers["drift.cat_s"], _ = counters.run("drift_cat", lambda: noop(cat_drift))

    warning_ids = sorted(r.rule_id for r in cat if r.severity == "warning")
    verdicts = (
        nt.groupBy("partition").agg(F.count(F.lit(1)).alias("rows_scanned"))
        .join(engine._partition_violation_counts(violations, warning_ids), "partition", "left")
    )
    layers["engine.verdict_s"], _ = counters.run("verdict", lambda: noop(verdicts))

    empty = spark.createDataFrame([], clips.schema)
    layers["engine.plan_s"], _ = counters.run(
        "plan", lambda: engine.run_validation(spark, empty, dims, cat, run_ts=RUN_TS))

    # The counts come after the timed replays, so they add nothing to any
    # layer's time.
    violation_rows = row_viol.count()
    dup_keys = dups.count()
    free_blocks(spark)

    out = run_job(spark, root, workload, w, tally)
    out.update(layers)
    out.update({
        "trace.wall_s": wall,
        "engine.gap_s": layer_gap(wall, layers),
        "engine.jobs": eng["jobs"],
        "engine.stages": eng["stages"],
        "engine.shuffle_bytes": eng["shuffle_bytes"],
        "engine.spill_bytes": eng["spill_bytes"],
        "engine.gc_s": eng["gc_s"],
        "engine.task_s": eng["run_s"],
        "compiler.compile_s": compile_s,
        "compiler.violation_rows": violation_rows,
        "audio.rows_per_s": rows / layers["audio.wide_pass_s"],
        "uniqueness.dup_keys": dup_keys,
        "uniqueness.shuffle_bytes": uniq_c["shuffle_bytes"],
        "referential.shuffle_bytes": fused_c["shuffle_bytes"],
        "attempted": tally.attempted,
        "failed": tally.failed,
        "problems": tally.problems,
    })
    return out
