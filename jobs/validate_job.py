"""spark-submit entry point for the full validation run (north_rule launch).

Cluster launch (BASELINE.json north_rule):

    python tools/package_pyfiles.py                 # → dist/data_check_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/data_check_spark.zip \\
        jobs/validate_job.py \\
        --input  s3://bucket/clips/            \\
        --transcripts s3://bucket/transcripts/ \\
        --baseline s3://bucket/baseline_stats/ \\
        --rules rules.json                     \\
        --output-dir  s3://bucket/validation_out/ \\
        --checkpoint-dir s3://bucket/validation_ckpt/ \\
        --resume

Local run from a checkout (``-m`` puts the repository root, and so the
``data_check_spark`` package, on ``sys.path``; ``python jobs/validate_job.py``
does not):

    python -m jobs.validate_job --input <clips> --output-dir <out> [...]

Writes ``<output>/violations`` + ``<output>/verdicts`` (parquet, partitioned
by run) and appends the per-partition checkpoint table; prints a one-line
JSON summary to stdout. ``--resume`` anti-joins partitions already marked
complete in the checkpoint (engine.run_validation resume path).

Sizing note: JVM heap cannot be set after launch, so pass ``--driver-memory``
(local smoke runs: at most the heap ``session.host_fit`` derives for the
host, about 9g on a 4-core 16 GiB host) / ``--executor-memory``
on the spark-submit line — session.py's in-process defaults only apply when
the library itself builds the JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _partition_sizes(clips, partition_col: str) -> list[tuple[str, int]]:
    """(partition, rows) for non-NULL partitions — ONE column-pruned
    aggregate; the frame is bounded by the partition count."""
    return sorted(
        ((r[0], r[1]) for r in clips.groupBy(partition_col).count().collect()
         if r[0] is not None),
        key=lambda t: (-t[1], t[0]),
    )


def _lpt_chunks(sizes: list[tuple[str, int]], k: int) -> list[tuple[list[str], int]]:
    """Largest-first greedy fill into k bins → [(partitions, rows)] per
    batch. Partitions are the atomic unit (a planted hot partition stays
    whole), so bins land within one partition's weight of balanced."""
    k = min(k, max(len(sizes), 1))
    bins: list[list] = [[0, []] for _ in range(k)]
    for part, n in sizes:
        tgt = min(bins, key=lambda b: b[0])
        tgt[0] += n
        tgt[1].append(part)
    return [(sorted(b[1]), b[0]) for b in bins]


def _export_report(violations, catalog, path: str) -> None:
    """User-facing report export: message-enriched violations to .xlsx or
    BOM-CSV — the reference's result save dialog (series/ID/check/message
    column shape, data_check.py:1236-1261) on the job surface. Bounded by
    contract: this is the triage report, not the raw violation store (that
    stays parquet)."""
    from data_check_spark.reporting import export_result, with_messages

    enriched = with_messages(violations.drop("run_id"), catalog).select(
        "rule_id", "clip_id", "partition", "observed", "message", "severity"
    )
    export_result(enriched, path)


def _append_run(res, output_dir: str) -> None:
    """Partitioned-by-run append of one run's violations and verdicts: a
    resumed relaunch into the same output dir adds its (partial) results
    under a new run_id instead of clobbering the completed partitions
    written by an earlier attempt."""
    from pyspark.sql import functions as F

    for name, df in (("violations", res.violations), ("verdicts", res.verdicts)):
        (df.withColumn("run_id", F.lit(res.run_id))
            .write.mode("append").partitionBy("run_id")
            .parquet(f"{output_dir}/{name}"))


def _write_final_views(spark, args, catalog, fallback_lineage: str):
    """Exactly-once final views of a checkpointed run: the raw appends are
    at-least-once (a crash between an output append and its checkpoint
    write leaves an orphan attempt that the relaunch re-validates under a
    new run_id, and a resumed relaunch re-emits NULL-partition rows and
    run-level synthetics). ``reconcile_outputs`` drops orphan run_ids by
    checkpoint lineage and recomputes verdicts from the reconciled
    violations, so member partitions whose only violations are
    owner-emitted global-grain rows fail here exactly as a single run
    would.

    Writes ``violations_final`` / ``verdicts_final``, exports the report
    when asked, and returns ``(violations_final, total, rows_scanned)``
    read back from the written views. Both numbers describe that one
    reconciled view: after a crash-relaunch the current invocation ran
    only the remaining partitions, so its own counts would undercount."""
    from pyspark.sql import functions as F

    from data_check_spark import engine

    warning_ids = [r.rule_id for r in catalog if r.severity == "warning"]
    fv, fd = engine.reconcile_outputs(
        spark, args.output_dir, args.checkpoint_dir, warning_ids=warning_ids,
        fallback_lineage=fallback_lineage,
    )
    fv.write.mode("overwrite").parquet(f"{args.output_dir}/violations_final")
    fd.write.mode("overwrite").parquet(f"{args.output_dir}/verdicts_final")
    # Re-read the written views: the reconciliation plan executes once
    # instead of once per consumer (each execution re-scans the raw appends
    # and the checkpoint).
    fv = spark.read.parquet(f"{args.output_dir}/violations_final")
    if args.export_result:
        _export_report(fv, catalog, args.export_result)
    rows_scanned = (
        spark.read.parquet(f"{args.output_dir}/verdicts_final")
        .agg(F.coalesce(F.sum("rows_scanned"), F.lit(0)))
        .collect()[0][0]
    )
    return fv, fv.count(), int(rows_scanned)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="clips parquet dir")
    ap.add_argument("--transcripts", default=None, help="transcript dim parquet dir")
    ap.add_argument("--baseline", default=None, help="baseline stats parquet dir")
    ap.add_argument("--rules", default=None, help="rule catalog JSON (default: audio catalog)")
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--reliable-cache", action="store_true",
                    help="fault-tolerant wide-pass checkpoint (HDFS/S3) "
                         "instead of executor-local blocks; survives "
                         "executor loss on long cluster runs")
    ap.add_argument("--cap-ms", type=int, default=100,
                    help="PCM decode cap for the default audio catalog's "
                         "byte-length/SNR rules; must match how the table's "
                         "bytes were produced (ignored with --rules)")
    ap.add_argument("--run-ts", default=None, help="pinned run timestamp (UTC)")
    ap.add_argument("--partition-col", default="partition")
    ap.add_argument("--partition-batches", type=int, default=1,
                    help="split the run into K sequential partition batches, "
                         "checkpointing after each — a mid-job failure loses "
                         "at most one batch and a relaunch with the same "
                         "args resumes past completed batches (requires "
                         "--checkpoint-dir; implies --resume). The union of "
                         "batched violations is multiset-identical to the "
                         "single-run output: batch 0 runs every global-grain "
                         "rule once over the FULL key set (cross-batch "
                         "duplicates, orphans) and member batches validate "
                         "only their own partitions")
    ap.add_argument("--export-result", default=None, metavar="PATH",
                    help="also export the message-enriched violations as a "
                         "user-facing report: .xlsx (one-sheet workbook) or "
                         ".csv (BOM single file) — the reference's save "
                         "dialog (series/ID/check/message columns), driven "
                         "from the reconciled view when a checkpoint is "
                         "configured")
    ap.add_argument("--dry-run", action="store_true",
                    help="print the run plan (rule counts, partition/batch "
                         "assignment with row counts, partitions already "
                         "complete in the checkpoint) and exit without "
                         "validating — the sanity gate before an expensive "
                         "cluster launch")
    args = ap.parse_args(argv)
    if args.partition_batches < 1:
        ap.error("--partition-batches must be >= 1")
    if args.partition_batches > 1 and not args.checkpoint_dir:
        ap.error("--partition-batches needs --checkpoint-dir")

    from data_check_spark import checkpoint as cp
    from data_check_spark import engine
    from data_check_spark.rules.spec import load_catalog
    from data_check_spark.session import get_spark

    # get_spark defers to spark-submit's --master/--conf when present and
    # otherwise applies the tuned local defaults (AQE, Arrow batching, UTC
    # session timezone — checkpoint resume ordering relies on UTC).
    spark = get_spark(app_name="data_check_validate")
    spark.sparkContext.setLogLevel("WARN")

    clips = spark.read.parquet(args.input)
    dims = {}
    if args.transcripts:
        dims["transcripts"] = spark.read.parquet(args.transcripts)
    if args.baseline:
        dims["baseline_stats"] = spark.read.parquet(args.baseline)
    catalog = None
    if args.rules:
        catalog = load_catalog(args.rules)
    else:
        from data_check_spark.rules.catalog_audio import audio_catalog

        catalog = audio_catalog(bytes_cap_ms=args.cap_ms)

    t0 = time.monotonic()
    from pyspark.sql import functions as F

    if args.dry_run:
        sizes = _partition_sizes(clips, args.partition_col)
        null_rows = clips.filter(F.col(args.partition_col).isNull()).count()
        done = (cp.completed_partitions(spark, args.checkpoint_dir)
                if args.checkpoint_dir else [])
        chunks = _lpt_chunks(sizes, args.partition_batches)
        print(json.dumps({
            "dry_run": True,
            "rules": {
                "row_local": sum(1 for r in catalog if r.is_row_local),
                "set_oriented": len(catalog.set_oriented),
            },
            "partitions": len(sizes),
            "rows": sum(n for _p, n in sizes) + null_rows,
            "null_partition_rows": null_rows,
            "already_complete": sorted(set(done)),
            "batches": [
                {"batch": i, "partitions": len(parts), "rows": rows,
                 "remaining_partitions": len([p for p in parts if p not in set(done)])}
                for i, (parts, rows) in enumerate(chunks)
            ],
        }))
        return 0

    if args.partition_batches > 1:
        # Bounded-blast-radius mode: the distinct partition list (tiny —
        # one column-pruned scan) splits into K sorted chunks; each chunk
        # runs with every OTHER chunk excluded (engine prunes them exactly
        # like checkpointed partitions) and appends its checkpoint rows, so
        # a kill loses at most the in-flight chunk. resume=True makes a
        # relaunch with identical args skip completed chunks' partitions.
        # Size-aware chunking (LPT greedy): the synthetic table plants
        # skewed partitions, and real corpora are worse — stride chunking
        # measured a 3x spread in batch wall.
        sizes = _partition_sizes(clips, args.partition_col)
        chunks = [parts for parts, _rows in
                  _lpt_chunks(sizes, args.partition_batches)]
        # Relaunch detection: once a previous attempt's batch 0 completed,
        # a re-run batch 0 must behave like a member (skip run-level
        # synthetics, NULL-partition rows, global-grain emission) or the
        # cross-attempt union double-reports exactly those rows.
        owner_done = cp.owner_complete(spark, args.checkpoint_dir)
        # Test seams: crash (raise) after finishing batch K, or after batch
        # K's output appends but BEFORE its checkpoint write — the orphan-
        # attempt window the reconciled read view exists for.
        crash_after = os.environ.get("DATA_CHECK_TEST_CRASH_AFTER_BATCH")
        crash_before_ckpt = os.environ.get("DATA_CHECK_TEST_CRASH_BEFORE_CKPT")
        batch_runs = []
        for i, chunk in enumerate(chunks):
            res = engine.run_validation(
                spark, clips, dims, catalog,
                run_ts=args.run_ts,
                partition_col=args.partition_col,
                checkpoint_dir=args.checkpoint_dir,
                resume=True,
                reliable_cache=args.reliable_cache,
                exclude_partitions=[p for c in chunks if c is not chunk for p in c],
                # batch 0 is the global-state owner (global-grain rules,
                # NULL-partition rows, run-level synthetics); members skip
                # all of that and validate only their own partitions.
                batch_member=(i > 0) or owner_done,
            )
            # The checkpoint is written below, AFTER the output appends are
            # durable — the done-marker must never precede the rows it
            # attests to.
            _append_run(res, args.output_dir)
            if crash_before_ckpt is not None and i == int(crash_before_ckpt):
                raise RuntimeError(f"injected crash before checkpoint, batch {i}")
            # ONE append carries both the batch's partition rows and (for
            # the first owner attempt) the owner-completion sentinel — two
            # appends would leave a crash window where batch 0 is
            # checkpointed but not marked, and the relaunch re-runs it as
            # owner, double-emitting run-level rows.
            cp.write_checkpoint(
                res.verdicts, args.checkpoint_dir, res.run_id,
                owner_sentinel=(i == 0 and not owner_done),
            )
            s = res.summary()
            batch_runs.append({"batch": i, "run_id": res.run_id,
                               "rows_scanned": res.rows_scanned,
                               "violations": s["total"]})
            if crash_after is not None and i == int(crash_after):
                raise RuntimeError(f"injected crash after batch {i}")
        _, final_total, final_rows_scanned = _write_final_views(
            spark, args, catalog, fallback_lineage=batch_runs[0]["run_id"])
        print(json.dumps({
            "batches": batch_runs,
            "rows_scanned": final_rows_scanned,
            "total_violations": final_total,
            "wall_sec": round(time.monotonic() - t0, 1),
        }))
        return 0

    res = engine.run_validation(
        spark, clips, dims, catalog,
        run_ts=args.run_ts,
        partition_col=args.partition_col,
        checkpoint_dir=args.checkpoint_dir,
        resume=args.resume,
        reliable_cache=args.reliable_cache,
    )
    _append_run(res, args.output_dir)
    if args.checkpoint_dir:
        # Output-then-checkpoint ordering: a crash between the two must
        # leave partitions UNmarked (re-validated on relaunch) rather than
        # marked-done with no rows written anywhere.
        cp.write_checkpoint(res.verdicts, args.checkpoint_dir, res.run_id)
        from data_check_spark.reporting import top_rules

        fv, total, rows_scanned = _write_final_views(
            spark, args, catalog, fallback_lineage=res.run_id)
        top5 = [r["rule_id"] for r in top_rules(fv).collect()]
    else:
        if args.export_result:
            _export_report(res.violations, catalog, args.export_result)
        summary = res.summary()
        total, rows_scanned, top5 = summary["total"], res.rows_scanned, summary["top5"]
    print(json.dumps({
        "run_id": res.run_id,
        "rows_scanned": rows_scanned,
        "total_violations": total,
        "top5": top5,
        "schema_problems": res.schema_problems,
        "wall_sec": round(time.monotonic() - t0, 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
