"""Two-phase uniqueness (north_rule: "salted hash-aggregate + two-phase
dedup"): the two phases are Spark's partial and final hash aggregate.

Reference semantics (dekispart.py:234-245 + precompute at 1067): a non-blank
key appearing more than once violates, one violation per ROW; blank keys are
exempt (tests/test_chk_0008.py:11-20). The school variant emits one violation
per duplicated VALUE instead (dekispart_school.py:204-208) —
``aggregate_unique_violations``.

Scale design: one ``groupBy(key).count()``. Its map-side partial aggregate
combines each task's rows per key before the single exchange, so a
pathologically hot key (the planted ``clip_00000000deadbeef``) reaches its
reducer as at most one row per map task; a (key, spark_partition_id())
salt stage would add a second exchange and no tighter bound. The final
aggregate merges the partial counts per key. The duplicate-key set is tiny
relative to the table, so the join back to rows is effectively a broadcast
(AQE converts it at runtime); at 10^12 rows nothing in this plan
materializes more than |distinct keys| intermediate rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_check_spark.functions.blank import is_present


def duplicate_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Partial/final hash-aggregate duplicate detection → DataFrame(key, dup_count)."""
    return (
        df.filter(is_present(key_col))
        .groupBy(F.col(key_col).alias("_k"))
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
        .select(F.col("_k").alias(key_col), "dup_count")
    )


def unique_violations(
    df: DataFrame,
    rule_id: str,
    key_col: str = "clip_id",
    *,
    id_col: str = "clip_id",
    partition_col: str | None = "partition",
    dups: DataFrame | None = None,
) -> DataFrame:
    """Per-row violations for duplicated keys (reference: CHK_0008).

    ``dups`` lets callers share one duplicate-key computation between the
    row-grain and value-grain rules (engine fuses them)."""
    if dups is None:
        dups = duplicate_keys(df, key_col)
    dups = dups.withColumnRenamed(key_col, "_dup_key")
    part: Column = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    return (
        df.join(dups, df[key_col] == F.col("_dup_key"), "inner")
        .select(
            F.lit(rule_id).alias("rule_id"),
            F.col(id_col).cast("string").alias("clip_id"),
            part.alias("partition"),
            F.concat(F.lit("dup_count="), F.col("dup_count").cast("string")).alias("observed"),
        )
    )


def aggregate_unique_violations(
    df: DataFrame,
    rule_id: str,
    key_col: str = "clip_id",
    *,
    dups: DataFrame | None = None,
) -> DataFrame:
    """One violation per duplicated VALUE (reference: dekispart_school.py:204-208,
    which emits a single row per distinct duplicate with a blank locator)."""
    if dups is None:
        dups = duplicate_keys(df, key_col)
    return dups.select(
        F.lit(rule_id).alias("rule_id"),
        F.col(key_col).cast("string").alias("clip_id"),
        F.lit(None).cast("string").alias("partition"),
        F.concat(F.lit("dup_count="), F.col("dup_count").cast("string")).alias("observed"),
    )
