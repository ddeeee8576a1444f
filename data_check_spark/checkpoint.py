"""Checkpoint / resume (north_rule: "resumable from a checkpoint table keyed
by partition with per-partition lineage and metrics").

The checkpoint is a table of per-partition rows (CHECKPOINT_SCHEMA). In
production this is an Iceberg table (atomic append per run); the sandbox has
no Iceberg jars, so the writer falls back to parquet directories — the
resume logic is identical either way: read the checkpoint, collect the
``done`` partitions (bounded by the partition count, so a driver-side
collect is safe), and prune them from the next run with a partition filter
that Iceberg/parquet turns into partition pruning — resumed runs never
rescan completed partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.schemas import CHECKPOINT_SCHEMA, literal_frame

# Sentinel "partition" recording that the owner batch (batch 0 of a
# partition-batched run) finished its run-level duties: global-grain rules,
# NULL-partition rows, and run-level synthetics. A relaunched batch 0 that
# sees this marker runs as a plain member — without it, every relaunch after
# a mid-job crash re-emitted those rows under a new run_id and the union
# across attempts stopped being multiset-identical to the single run.
OWNER_SENTINEL = "__batch_globals__"


def write_checkpoint(
    verdicts: DataFrame,
    checkpoint_dir: str,
    run_id: str,
    *,
    owner_sentinel: bool = False,
) -> None:
    """Append per-partition completion rows for this run.

    "done" means the partition was fully validated (whether it passed or
    not) — resume must not re-validate failing-but-processed partitions.

    ``owner_sentinel``: union the owner-completion sentinel row into the
    SAME append. Writing it as a second append would open a crash window
    where batch 0's partitions are checkpointed but the sentinel is not —
    the relaunch would then re-run batch 0 as owner and double-emit every
    run-level and member-partition global-grain row."""
    rows = verdicts.select(
        F.col("partition").cast("string"),
        F.lit("done").alias("status"),
        F.col("rows_scanned").cast("long"),
        F.col("violations").cast("long"),
        F.col("wall_time_ms").cast("long"),
        F.lit(run_id).alias("lineage"),
        F.current_timestamp().alias("completed_at"),
    )
    if owner_sentinel:
        sentinel = literal_frame(
            verdicts.sparkSession,
            [(OWNER_SENTINEL, "done", None, None, None, run_id)],
            "partition string, status string, rows_scanned long, "
            "violations long, wall_time_ms long, lineage string",
        ).withColumn("completed_at", F.current_timestamp())
        rows = rows.unionByName(sentinel)
    rows.write.mode("append").parquet(checkpoint_dir)


def mark_failed(spark: SparkSession, checkpoint_dir: str, partition: str, run_id: str) -> None:
    import datetime as _dt

    # tz-aware now(): a naive utcnow() would be re-interpreted in the session
    # timezone, which on a non-UTC cluster could backdate the 'failed' marker
    # and lose the max_by(completed_at) ordering to an earlier 'done' row.
    now = _dt.datetime.now(_dt.timezone.utc)
    row = [(partition, "failed", None, None, None, run_id, now)]
    literal_frame(spark, row, CHECKPOINT_SCHEMA).write.mode("append").parquet(checkpoint_dir)


def _latest_done(cp: DataFrame) -> DataFrame:
    """(partition, lineage, completed_at) of each partition whose LATEST
    checkpoint row says done — a later ``failed`` row (mark_failed)
    un-does an earlier ``done``."""
    return (
        cp.groupBy("partition")
        .agg(
            F.max_by(
                F.struct("status", "lineage", "completed_at"), F.col("completed_at")
            ).alias("w")
        )
        .filter(F.col("w.status") == "done")
        .select("partition", "w.lineage", "w.completed_at")
    )


def owner_complete(spark: SparkSession, checkpoint_dir: str) -> bool:
    """True iff a previous attempt's owner batch completed (sentinel row
    present with latest status done)."""
    cp = read_checkpoint(spark, checkpoint_dir)
    if cp is None:
        return False
    return bool(_latest_done(cp.filter(F.col("partition") == OWNER_SENTINEL)).take(1))


def read_checkpoint(spark: SparkSession, checkpoint_dir: str) -> DataFrame | None:
    """None = no checkpoint yet (first run). A driver-local isdir() probe
    would wrongly report hdfs://-/s3a://-style dirs as missing on a cluster,
    so existence is decided by the read itself: only the missing-path
    AnalysisException maps to None — a corrupt/unreadable checkpoint raises
    instead of silently resuming everything."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(checkpoint_dir)
    except AnalysisException as e:
        if e.getErrorClass() == "PATH_NOT_FOUND":
            return None
        raise  # corrupt/incompatible checkpoint must not look like "first run"


def completed_partitions(spark: SparkSession, checkpoint_dir: str) -> list[str]:
    """Partitions whose LATEST checkpoint row says done (NULL partition rows
    are never treated as done — a NULL in an IN-list makes the resume
    filter three-valued and would drop every row)."""
    cp = read_checkpoint(spark, checkpoint_dir)
    if cp is None:
        return []
    latest = _latest_done(
        cp.filter(F.col("partition").isNotNull() & (F.col("partition") != OWNER_SENTINEL))
    )
    return [r["partition"] for r in latest.select("partition").collect()]


def prune_completed(df: DataFrame, done: list[str], partition_col: str = "partition") -> DataFrame:
    """Partition filter → Iceberg/parquet partition pruning on resume.

    NULL-partition rows are always kept: ``~isin`` is three-valued (NULL in,
    NULL out), so without the isNull() arm those rows would silently vanish
    from every resumed run."""
    if not done:
        return df
    col = F.col(partition_col)
    return df.filter(~col.isin(done) | col.isNull())
