"""spark-submit entry point for INCREMENTAL (Structured Streaming) validation.

The batch job (jobs/validate_job.py) re-validates a table; this one
validates ARRIVALS: a file-source stream over the clip directory runs the
row-local half of the catalog as a stateless projection into an append
sink, and (optionally) the set-oriented half per micro-batch via
foreachBatch against the same batch engine. Stateful cross-batch
uniqueness has its own path (streaming/stateful.py; --stateful-dedup).

Launch (same packaging as the batch job):

    python tools/package_pyfiles.py
    spark-submit --master <cluster> \\
        --py-files dist/data_check_spark.zip \\
        jobs/stream_validate_job.py \\
        --input  s3://bucket/clips_incoming/ \\
        --output-dir s3://bucket/stream_viol/ \\
        --checkpoint-dir s3://bucket/stream_ckpt/ \\
        --once

Local run from a checkout (``-m`` puts the repository root on
``sys.path``): ``python -m jobs.stream_validate_job --input <dir>
--output-dir <out> --checkpoint-dir <ckpt> --once``.

Semantics that make this safe to operate:
- the streaming checkpoint IS the resume contract: relaunch with the same
  args continues from the last committed micro-batch (files processed
  exactly once by the file-source log);
- ``--once`` (availableNow) drains the current backlog then exits 0 — the
  shape for cron-driven catch-up; omit it for a continuous daemon;
- ``--micro-batch-engine`` routes each micro-batch through the FULL batch
  engine (uniqueness/referential within the batch delta) with
  idempotent per-batch-id dynamic-partition-overwrite output, so an
  at-least-once foreachBatch replay rewrites its own directory instead of
  duplicating rows;
- ``--stateful-dedup`` adds the cross-batch duplicate stream (keyed state,
  optional --dedup-ttl-minutes bound so state stays O(live keys)).

Value-level evidence for these paths: oracle queries
``streaming_row_rules_events`` / ``streaming_dedup_events`` /
``streaming_window_counts_events`` / ``streaming_sessions_events``
(data_check_spark/queries.py) replay the identical runtime to completion
against DuckDB analytic oracles.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="arriving clip parquet dir")
    ap.add_argument("--transcripts", default=None,
                    help="transcript dim parquet dir (only used with "
                         "--micro-batch-engine)")
    ap.add_argument("--rules", default=None,
                    help="rule catalog JSON (default: audio catalog)")
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--checkpoint-dir", required=True,
                    help="streaming checkpoint root (one subdir per query)")
    ap.add_argument("--once", action="store_true",
                    help="availableNow: drain the backlog and exit")
    ap.add_argument("--with-bytes", action="store_true",
                    help="stream the binary PCM column too; only useful with "
                         "--micro-batch-engine, where the batch engine's wide "
                         "decode pass runs the byte-length/SNR rules — the "
                         "stateless row stream has no decode stage, so its "
                         "bytes-derived rules stay schema-skipped either way "
                         "(default: narrow monitoring schema)")
    ap.add_argument("--micro-batch-engine", action="store_true",
                    help="run set-oriented rules per micro-batch through the "
                         "batch engine via foreachBatch")
    ap.add_argument("--stateful-dedup", action="store_true",
                    help="cross-micro-batch duplicate detection "
                         "(applyInPandasWithState)")
    ap.add_argument("--dedup-ttl-minutes", type=int, default=None)
    ap.add_argument("--cap-ms", type=int, default=100)
    ap.add_argument("--run-ts", default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument("--timeout-sec", type=int, default=None,
                    help="await bound for --once drains (default: no bound)")
    args = ap.parse_args(argv)

    from data_check_spark.session import get_spark

    spark = get_spark(app_name="data_check_stream_validate")
    t0 = time.monotonic()

    from data_check_spark.rules.catalog_audio import audio_catalog
    from data_check_spark.streaming import incremental as inc

    if args.rules:
        from data_check_spark.rules.spec import load_catalog

        catalog = load_catalog(args.rules)
    else:
        catalog = audio_catalog(bytes_cap_ms=args.cap_ms)
    # run_ts is NOT defaulted to wall-clock: a crash-relaunch with the same
    # args must replay micro-batches against the SAME instant or the
    # idempotent per-batch-id overwrite rewrites different verdicts than
    # the first attempt (the batch job pins it the same way; {run_ts}
    # rules error loudly at compile when unset).
    run_ts = args.run_ts
    if args.micro_batch_engine and run_ts is None:
        ap.error("--micro-batch-engine requires --run-ts (the engine pins "
                 "one instant per run; a wall-clock default would judge "
                 "replayed micro-batches against a different instant)")
    schema = (
        inc.STREAM_CLIPS_SCHEMA_WITH_BYTES if args.with_bytes
        else inc.STREAM_CLIPS_SCHEMA
    )

    # Schema-applicability filter for the stateless row-rule stream: the
    # default catalog's bytes-derived row rules (BYTES_*, AUDIO_*) reference
    # wide-pass decode columns that the narrow monitoring schema doesn't
    # carry — compiling them against the stream would fail analysis. Resolve
    # the row-local rules against an EMPTY frame of the stream schema (the
    # engine's resolver: driver-side regex compile + Catalyst analysis, no
    # jobs) and keep what resolves; dropped rule ids are reported in the
    # summary so the narrowing is visible, and the micro-batch engine path
    # still runs the full catalog (the batch engine owns its own schema
    # handling). Only an analysis error means "not applicable to this
    # schema": any other failure (a {run_ts} rule without --run-ts, an
    # unparseable expression, a bad regex) fails the job before a query
    # starts.
    from pyspark.errors import AnalysisException, ParseException

    from data_check_spark.rules.compiler import resolve_row_rules
    from data_check_spark.rules.spec import RuleCatalog
    from data_check_spark.schemas import literal_frame

    probe = literal_frame(spark, [], schema)
    dropped = {}
    for r, exc in resolve_row_rules(probe, catalog.row_local, run_ts)[1]:
        if not isinstance(exc, AnalysisException) or isinstance(exc, ParseException):
            raise ValueError(f"row rule {r.rule_id} cannot run: {exc}") from exc
        dropped[r.rule_id] = str(exc).splitlines()[0][:300]
    keep = [r for r in catalog.rules if not (r.is_row_local and r.rule_id in dropped)]
    stream_catalog = RuleCatalog(keep)
    # report the narrowing immediately (daemon mode has no summary line)
    for rule_id, cause in sorted(dropped.items()):
        print(f"row rule {rule_id} skipped for stream schema: {cause}",
              file=sys.stderr)

    # Before starting anything: in a reused session a PREVIOUSLY-terminated
    # streaming query (a prior --once invocation, a test fixture) would make
    # the daemon's awaitAnyTermination return immediately; resetting here
    # (before .start(), so a fast-failing new query is still observed)
    # scopes termination to THIS invocation's queries.
    spark.streams.resetTerminated()

    queries = []
    if stream_catalog.row_local:
        queries.append(inc.start_incremental_validation(
            spark, args.input, f"{args.output_dir}/row_violations",
            stream_catalog,
            run_ts=run_ts, checkpoint_dir=f"{args.checkpoint_dir}/row_rules",
            trigger_once=args.once, schema=schema,
            max_files_per_trigger=args.max_files_per_trigger,
        ))
    elif not (args.micro_batch_engine or args.stateful_dedup):
        ap.error(
            "no row-local rule in the catalog survives the stream schema "
            f"(skipped: {sorted(dropped)}) and no other query type was "
            "requested — nothing to run"
        )
    if args.micro_batch_engine:
        dims = {}
        if args.transcripts:
            dims["transcripts"] = spark.read.parquet(args.transcripts)
        queries.append(inc.start_microbatch_validation(
            spark, args.input, f"{args.output_dir}/batch", catalog, dims,
            run_ts=run_ts, checkpoint_dir=f"{args.checkpoint_dir}/micro_batch",
            trigger_once=args.once, schema=schema,
            max_files_per_trigger=args.max_files_per_trigger,
        ))
    if args.stateful_dedup:
        from data_check_spark.streaming.stateful import start_stateful_dedup

        queries.append(start_stateful_dedup(
            spark, args.input, f"{args.output_dir}/stream_dup",
            checkpoint_dir=f"{args.checkpoint_dir}/stateful_dedup",
            ttl_minutes=args.dedup_ttl_minutes, trigger_once=args.once,
            max_files_per_trigger=args.max_files_per_trigger,
        ))

    if args.once:
        # Await EVERY query (no short-circuit) and survive per-query
        # failures: a timed-out query must be stopped (returning while it
        # still writes would let it mutate the output dirs after this
        # function returns — in-process callers), a FAILED query raises
        # StreamingQueryException out of awaitTermination and must not
        # abort the drain of its siblings or swallow the summary.
        # --timeout-sec is one OVERALL deadline ("is not None": 0 means
        # fail-now, not wait-forever).
        deadline = (
            time.monotonic() + args.timeout_sec
            if args.timeout_sec is not None else None
        )
        drained, errors = [], []
        for q in queries:
            try:
                if deadline is not None:
                    ok = bool(
                        q.awaitTermination(max(0.001, deadline - time.monotonic()))
                    )
                    if not ok:
                        q.stop()
                else:
                    q.awaitTermination()
                    ok = True
            except Exception as exc:  # StreamingQueryException: query failed
                errors.append(str(exc).splitlines()[0][:500])
                ok = False
            drained.append(ok)
        all_ok = all(drained) and not errors
        print(json.dumps({
            "queries": len(queries),
            "drained": all_ok,
            "timed_out": [i for i, ok in enumerate(drained) if not ok],
            "errors": errors,
            "rules_skipped_for_schema": sorted(dropped),
            "wall_sec": round(time.monotonic() - t0, 1),
        }))
        return 0 if all_ok else 2
    # Continuous daemon: awaitAnyTermination RAISES StreamingQueryException
    # when a query fails (it does not return) — catch it for diagnostics;
    # on any termination (failure OR clean stop) stop the siblings
    # deliberately rather than letting process exit kill them silently.
    # (resetTerminated ran before the queries started.)
    failed_msgs: list[str] = []
    try:
        spark.streams.awaitAnyTermination()
    except Exception as exc:  # StreamingQueryException
        failed_msgs.append(str(exc))
    for q in queries:
        if q.exception() is not None:
            failed_msgs.append(str(q.exception()))
        if q.isActive:
            q.stop()
    for m in dict.fromkeys(failed_msgs):
        print(f"stream query failed: {m}", file=sys.stderr)
    return 2 if failed_msgs else 0


if __name__ == "__main__":
    sys.exit(main())
