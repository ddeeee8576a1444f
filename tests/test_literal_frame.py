"""schemas.literal_frame: the same rows, names and types as
``createDataFrame`` for every in-plan literal table the engine builds."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_check_spark.schemas import (
    BASELINE_STATS_SCHEMA,
    CHECKPOINT_SCHEMA,
    VIOLATIONS_SCHEMA,
    literal_frame,
)

_NOW = dt.datetime(2026, 3, 29, 1, 30, 15, 123456, tzinfo=dt.timezone.utc)

# (schema, rows) for each call site: synthetic violations and EMPTY_INPUT,
# the drift rule table and baseline globals, the owner sentinel,
# mark_failed's row and the with_messages table; plus a plain DDL-string
# schema of two string columns.
CASES = {
    "violations": (VIOLATIONS_SCHEMA, [
        ("SCHEMA_CHECK", None, None, "missing column: codec"),
        ("EMPTY_INPUT", "N/A", None, "fact table has no rows"),
    ]),
    "pairs": ("partition string, run_id string", [("p0001", "r1"), ("p0002", "r2")]),
    "drift_rules": ("rule_id string, column_name string, _thr double", [
        ("DRIFT_DUR_MS", "dur_ms", 0.25), ("DRIFT_SR_HZ", "sr_hz", 1.0),
    ]),
    "baseline_globals": (BASELINE_STATS_SCHEMA, [
        ("__global__", "dur_ms", b"\x00\x01\xff", 2**40), ("__global__", "sr_hz", None, None),
    ]),
    "owner_sentinel": (
        "partition string, status string, rows_scanned long, "
        "violations long, wall_time_ms long, lineage string",
        [("__batch_globals__", "done", None, None, None, "run-1")],
    ),
    "mark_failed": (CHECKPOINT_SCHEMA, [("p0003", "failed", None, None, None, "run-2", _NOW)]),
    "messages": ("rule_id string, message string, severity string", [
        ("R1", "clip too short", "error"), ("R2", None, "warning"),
    ]),
}


def _shape(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


@pytest.mark.parametrize("case", sorted(CASES))
def test_matches_create_dataframe(spark, case):
    schema, rows = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = literal_frame(spark, rows, schema)
    assert _shape(got) == _shape(want)
    assert got.collect() == want.collect()


@pytest.mark.parametrize("case", sorted(CASES))
def test_zero_rows(spark, case):
    schema, _ = CASES[case]
    got = literal_frame(spark, [], schema)
    assert _shape(got) == _shape(spark.createDataFrame([], schema))
    assert got.collect() == []


def test_tz_aware_timestamp_is_the_same_instant_in_any_session_zone(spark):
    schema, rows = CASES["mark_failed"]
    micros = (_NOW - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(microseconds=1)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        got = literal_frame(spark, rows, schema).select(F.unix_micros("completed_at")).first()[0]
        want = spark.createDataFrame(rows, schema).select(F.unix_micros("completed_at")).first()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert got == want == micros
