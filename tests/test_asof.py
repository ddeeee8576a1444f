"""As-of join operator: boundary semantics, left-join nulls."""

import datetime as dt

from data_check_spark.operators.asof import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _frames(spark):
    left = spark.createDataFrame(
        [("e1", 1, _ts("2026-01-01T10:00:00")),
         ("e2", 1, _ts("2026-01-01T12:00:00")),
         ("e3", 2, _ts("2026-01-01T09:00:00")),   # before any right row
         ("e4", 3, _ts("2026-01-01T09:00:00"))],  # key with no right rows
        "event_id string, k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts("2026-01-01T10:00:00"), "r-a"),   # equal ts -> inclusive
         (1, _ts("2026-01-01T11:30:00"), "r-b"),
         (2, _ts("2026-01-01T11:00:00"), "r-c")],
        "k int, rts timestamp, payload string",
    )
    return left, right


def test_backward_inclusive_and_nulls(spark):
    left, right = _frames(spark)
    out = {r["event_id"]: r["payload"]
           for r in asof_join(left, right, left_key="k", right_key="k",
                              left_ts="ts", right_ts="rts",
                              values=["payload"]).collect()}
    assert out == {"e1": "r-a",   # equal timestamp matches (inclusive)
                   "e2": "r-b",   # latest at-or-before
                   "e3": None,    # right rows all later
                   "e4": None}    # key absent from right


def test_asof_plan_single_shuffle_no_range_join(spark):
    left, right = _frames(spark)
    plan = asof_join(left, right, left_key="k", right_key="k",
                     left_ts="ts", right_ts="rts",
                     values=["payload"])._jdf.queryExecution().executedPlan().toString()
    # union + ONE window shuffle; never a range/nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_asof_matches_brute_force_random(spark):
    """Randomized cross-check: asof_join equals a python brute force on
    colliding keys, duplicate timestamps and unmatched rows."""
    import random

    rng = random.Random(42)
    base = dt.datetime(2026, 1, 1)
    lrows = [(f"e{i}", rng.randint(0, 5), base + dt.timedelta(minutes=rng.randint(0, 500)))
             for i in range(120)]
    rrows = [(rng.randint(0, 6), base + dt.timedelta(minutes=rng.randint(0, 500)), f"v{j}")
             for j in range(60)]
    # dedup right per (key, ts): keep the max payload so the winner is defined
    best = {}
    for k, ts, v in rrows:
        if (k, ts) not in best or v > best[(k, ts)]:
            best[(k, ts)] = v
    rrows = [(k, ts, v) for (k, ts), v in best.items()]

    left = spark.createDataFrame(lrows, "event_id string, k int, ts timestamp")
    right = spark.createDataFrame(rrows, "k int, rts timestamp, payload string")
    got = {r["event_id"]: r["payload"]
           for r in asof_join(left, right, left_key="k", right_key="k",
                              left_ts="ts", right_ts="rts",
                              values=["payload"]).collect()}
    for eid, k, ts in lrows:
        cands = [(rts, v) for rk, rts, v in rrows if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[eid] == want, (eid, got[eid], want)


def test_asof_null_value_in_matched_row_stays_null(spark):
    """The matched right row's NULL field must NOT be backfilled from an
    older right row (struct carry, not per-column carry) — DuckDB ASOF
    semantics."""
    left = spark.createDataFrame(
        [("e1", 1, _ts("2026-01-01T12:00:00"))], "event_id string, k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts("2026-01-01T10:00:00"), "old", "x"),
         (1, _ts("2026-01-01T11:00:00"), None, "y")],
        "k int, rts timestamp, payload string, other string",
    )
    out = asof_join(left, right, left_key="k", right_key="k", left_ts="ts",
                    right_ts="rts", values=["payload", "other"]).collect()[0]
    assert out["payload"] is None and out["other"] == "y"  # one row, not a blend


def test_asof_null_timestamps_never_match(spark):
    """NULL right timestamps never seed the carry; NULL left timestamps
    match nothing."""
    left = spark.createDataFrame(
        [("e1", 1, _ts("2026-01-01T09:00:00")), ("e2", 1, None)],
        "event_id string, k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, None, "ghost"), (1, _ts("2026-01-01T10:00:00"), "real")],
        "k int, rts timestamp, payload string",
    )
    out = {r["event_id"]: r["payload"]
           for r in asof_join(left, right, left_key="k", right_key="k",
                              left_ts="ts", right_ts="rts",
                              values=["payload"]).collect()}
    assert out["e1"] is None
    assert out["e2"] is None


def test_asof_null_keys_never_match(spark):
    """NULL keys don't join to each other (equality semantics, matching the
    DuckDB ASOF JOIN oracle): NULL-key left rows keep NULL values."""
    left = spark.createDataFrame(
        [("e1", None, _ts("2026-01-01T12:00:00"))],
        "event_id string, k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(None, _ts("2026-01-01T10:00:00"), "ghost")],
        "k int, rts timestamp, payload string",
    )
    out = asof_join(left, right, left_key="k", right_key="k",
                    left_ts="ts", right_ts="rts", values=["payload"]).collect()
    assert out[0]["payload"] is None


def test_asof_value_collision_rejected(spark):
    import pytest

    left = spark.createDataFrame(
        [("e1", 1, _ts("2026-01-01T12:00:00"), "x")],
        "event_id string, k int, ts timestamp, payload string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2026-01-01T10:00:00"), "y")],
        "k int, rts timestamp, payload string",
    )
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, left_key="k", right_key="k",
                  left_ts="ts", right_ts="rts", values=["payload"])
