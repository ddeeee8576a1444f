"""Incremental (Structured Streaming) validation of arriving clip files.

The reference is strictly batch (SURVEY.md §2.5: no streaming anywhere);
this module is the graft's forward extension: the same compiled rule
catalog applied continuously as new clip files land, so a 10^12-row table
ingesting millions of clips/hour validates arrivals incrementally instead
of re-scanning history.

Design:
- ``readStream`` file source over the clip directory (same parquet schema).
- Row-local rules are a stateless projection → they stream as-is via the
  SAME compiler output the batch engine uses (one plan, two runtimes).
- Set-oriented rules (uniqueness, referential, drift) need cross-row state;
  they run per micro-batch through ``foreachBatch`` against the batch
  operators — each micro-batch is validated as a delta. Cross-batch
  duplicate detection has a REAL streaming path now:
  ``streaming/stateful.py`` (``applyInPandasWithState`` keyed state, TTL
  bounded); the nightly batch run remains the source of truth for keys
  older than the state TTL, resumable via the checkpoint table.
- Windowed violation-rate monitoring: event-time tumbling window counts per
  (window, rule_id) with a watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
from data_check_spark.rules.spec import RuleCatalog

STREAM_CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
        T.StructField("partition", T.StringType(), True),
        T.StructField("event_ts", T.TimestampType(), True),
    ]
)

# Full-fidelity variant: include the binary PCM column so byte-length and
# SNR (audio_decode) rules run per micro-batch. The narrow default exists
# because most monitoring streams don't want to ship audio payloads through
# the file source; pass this (or your own schema) to run the full catalog.
STREAM_CLIPS_SCHEMA_WITH_BYTES = T.StructType(
    STREAM_CLIPS_SCHEMA.fields[:1]
    + [T.StructField("bytes", T.BinaryType(), True)]
    + STREAM_CLIPS_SCHEMA.fields[1:]
)


def stream_clips(
    spark: SparkSession,
    input_dir: str,
    *,
    schema: T.StructType = STREAM_CLIPS_SCHEMA,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream over arriving clip parquet files."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def streaming_violations_with_ts(
    stream: DataFrame,
    catalog: RuleCatalog,
    *,
    run_ts: str,
) -> DataFrame:
    """Violations + event timestamp, for windowed monitoring — the SAME
    compiler projection as batch (``extra_cols`` threads the timestamp
    through; no forked hit-array logic to keep in sync)."""
    compiled = compile_row_rules(catalog.row_local, run_ts)
    return apply_row_rules(stream, compiled, extra_cols=["event_ts"])


def violation_rate_monitor(
    violations_with_ts: DataFrame,
    *,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window violation counts per rule with late-data watermark."""
    return (
        violations_with_ts.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), "rule_id")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rule_id",
            "n_violations",
        )
    )


def start_microbatch_validation(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    catalog: RuleCatalog,
    dims: dict[str, DataFrame] | None = None,
    *,
    run_ts: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
    schema: T.StructType = STREAM_CLIPS_SCHEMA,
    max_files_per_trigger: int = 16,
):
    """Set-oriented rules per micro-batch via ``foreachBatch``.

    Each arriving batch runs through the FULL batch engine (uniqueness,
    referential, drift — the same ``run_validation`` the nightly job uses)
    as a delta: within-batch duplicates and FK violations surface
    immediately, cross-batch uniqueness goes through the stateful path
    (streaming/stateful.py) or the nightly reconciliation. Violations
    append to ``<output>/violations`` tagged with the micro-batch id.

    The default ``schema`` is the narrow monitoring shape WITHOUT the binary
    column, so audio_decode/byte-length rules are skipped (the engine treats
    absent ``bytes`` as not-applicable). Pass
    ``schema=STREAM_CLIPS_SCHEMA_WITH_BYTES`` to validate PCM per batch."""
    from data_check_spark.engine import run_validation

    dims = dims or {}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # run_validation materializes intermediates via localCheckpoint
        # (violations/verdicts frames, shared duplicate-key frames); a
        # finished micro-batch never touches them again, but the JVM keeps
        # the blocks until the session dies — a long-lived daemon would
        # accumulate them every batch until the pinned heap chokes (the
        # measured in-sweep failure mode, CLAUDE.md). Snapshot the
        # persistent-RDD ids before the run and free the NEW ones after the
        # write. Per-batch scope: the ids created here belong to this
        # batch's engine run (foreachBatch batches are sequential within
        # the query; concurrent OTHER queries in this job don't persist).
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        before = {int(e.getKey()) for e in jmap.entrySet().toArray()}
        res = run_validation(
            spark, batch_df, dims, catalog,
            run_ts=run_ts, cache_input=False,
        )
        # Idempotent under foreachBatch's at-least-once replay: dynamic
        # partition overwrite replaces ONLY this batch_id's directory, so a
        # batch re-run after a crash-before-commit rewrites its own rows
        # instead of appending a duplicate copy.
        (
            res.violations.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{output_dir}/violations")
        )
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for e in list(jmap.entrySet().toArray()):
            if int(e.getKey()) not in before:
                e.getValue().unpersist(False)

    stream = stream_clips(
        spark, input_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def violation_sessions(
    violations_with_ts: DataFrame,
    *,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based SESSION windows over the violation stream: bursts of
    violations for the same rule separated by ≥ ``gap`` of quiet close a
    session (native ``session_window`` + watermark; the streaming analog of
    the batch ``sessionize_events`` query). Surfaces "rule X started firing
    continuously at T" rather than per-minute counts."""
    return (
        violations_with_ts.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("w"), "rule_id")
        .agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.approx_count_distinct("clip_id").alias("n_clips"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "rule_id",
            "n_violations",
            "n_clips",
        )
    )


def start_incremental_validation(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    catalog: RuleCatalog,
    *,
    run_ts: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
    schema: T.StructType = STREAM_CLIPS_SCHEMA,
    max_files_per_trigger: int = 16,
):
    """End-to-end: stream files → row-local violations → parquet sink.

    ``trigger_once`` processes the current backlog and stops (the shape used
    in tests and in incremental nightly catch-up runs)."""
    stream = stream_clips(
        spark, input_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    viol = streaming_violations_with_ts(stream, catalog, run_ts=run_ts)
    writer = (
        viol.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()

