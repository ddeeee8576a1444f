"""Pinned StructTypes for all engine tables.

The reference infers schema lazily from ``cursor.description`` and converts
missing columns into per-row violation rows (reference: dekispart.py:52,
1154-1155). This engine instead pins explicit schemas up front and turns
schema mismatch into a pre-flight validation step (``validate_schema``),
which is both safer and the only workable contract at 10^12-row scale.

Fact table shape comes from BASELINE.json ``input_hint``:
``clip_id:string, bytes:binary, sr_hz:int32, dur_ms:int32, codec:string,
transcript:string`` plus an explicit ``partition`` column the table is
physically partitioned by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- input fact table -------------------------------------------------------

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
        T.StructField("partition", T.StringType(), True),
    ]
)

# --- dimension tables (broadcast-side) --------------------------------------

BASELINE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType(), False),  # or "__global__"
        T.StructField("column_name", T.StringType(), False),
        T.StructField("tdigest", T.BinaryType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)

# --- output tables -----------------------------------------------------------

# Analog of the reference result contract (シリーズ, ユーザID, 保守整理番号,
# チェックID) → (rule_id, clip_id, partition, observed); reference:
# dekispart.py:82-89, data_check.py:1071-1094.
VIOLATIONS_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("partition", T.StringType(), True),
        T.StructField("observed", T.StringType(), True),
    ]
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # done / failed
        T.StructField("rows_scanned", T.LongType(), True),
        T.StructField("violations", T.LongType(), True),
        T.StructField("wall_time_ms", T.LongType(), True),
        T.StructField("lineage", T.StringType(), True),  # run id / snapshot id
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)


def literal_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType | str) -> DataFrame:
    """A small frame of driver-side rows, built as JVM Column algebra.

    ``spark.createDataFrame(<list>)`` scans a Python RDD: each of its tasks
    starts a Python worker that runs no UDF, yet imports pyspark from the
    uncached ``pyspark.zip`` and holds a task slot meanwhile. Here each
    column is an array of literals, zipped into rows, cast once to the
    schema and exploded over a one-row range, so no Python runs at
    execution time. Each cell costs one py4j call on the driver (~0.2 ms);
    a per-cell cast or a per-row struct costs ~1 ms more. Columns come out
    nullable."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    arrays = [F.array(*map(F.lit, column)) for column in zip(*rows, strict=True)]
    nullable = T.StructType([T.StructField(f.name, f.dataType) for f in schema.fields])
    return spark.range(1).select(F.inline(F.arrays_zip(*arrays).cast(T.ArrayType(nullable))))


def validate_schema(df: DataFrame, expected: T.StructType, *, strict_nullability: bool = False) -> list[str]:
    """Compare ``df.schema`` to ``expected``; return a list of problems.

    Pre-flight replacement for the reference's per-row ``KeyError`` →
    ``COLUMN_MISSING_ERROR`` escalation (reference: dekispart.py:1151-1157).
    """
    problems: list[str] = []
    # case-insensitive name match — Spark resolves columns case-insensitively
    # under the default spark.sql.caseSensitive=false, so a table with
    # 'CLIP_ID' works in every query and must pass pre-flight too
    actual = {f.name.lower(): f for f in df.schema.fields}
    for f in expected.fields:
        if f.name.lower() not in actual:
            problems.append(f"missing column: {f.name}")
            continue
        a = actual[f.name.lower()]
        if a.dataType.simpleString() != f.dataType.simpleString():
            problems.append(
                f"type mismatch on {f.name}: expected {f.dataType.simpleString()}, got {a.dataType.simpleString()}"
            )
        if strict_nullability and f.nullable is False and a.nullable:
            problems.append(f"nullability mismatch on {f.name}: expected NOT NULL")
    return problems
