"""Rolling volume anomaly: planted spike, cold start, brute-force parity."""

import datetime as dt
import math

from data_check_spark.operators.anomaly import daily_volume_anomaly


def _events(spark, counts):
    """One row per event; day i (from 2024-01-01) gets counts[i] events."""
    rows = []
    for i, n in enumerate(counts):
        day = dt.datetime(2024, 1, 1, 12, 0) + dt.timedelta(days=i)
        rows += [(len(rows) + j, day) for j in range(n)]
    return spark.createDataFrame(rows, "event_id long, ts timestamp")


def _brute(counts, k=3, trailing=7, min_window=4):
    flags = []
    for i, x in enumerate(counts):
        w = counts[max(0, i - trailing):i]
        if len(w) < min_window:
            flags.append(0)
            continue
        mean = sum(w) / len(w)
        var = sum(v * v for v in w) / len(w) - mean * mean
        flags.append(1 if abs(x - mean) > k * math.sqrt(max(var, 0.0)) else 0)
    return flags


def test_planted_spike_flagged_and_cold_start_not(spark):
    counts = [100, 101, 99, 100, 102, 98, 100, 500, 100, 99]
    got = daily_volume_anomaly(_events(spark, counts)).orderBy("day").collect()
    assert [r.is_anomaly for r in got] == _brute(counts)
    assert got[7].is_anomaly == 1  # the planted spike
    assert [r.is_anomaly for r in got[:4]] == [0] * 4  # cold start never fires
    assert got[7].n_events == 500 and got[7].window_n == 7
    # day 8: window now CONTAINS the spike → inflated variance, no flag
    assert got[8].is_anomaly == 0


def test_matches_float_brute_force_on_noisy_series(spark):
    # deterministic pseudo-noise with one planted outage and one surge
    counts = [200 + ((i * 37) % 23) - 11 for i in range(40)]
    counts[20] = 40   # outage
    counts[33] = 480  # surge
    got = daily_volume_anomaly(_events(spark, counts)).orderBy("day").collect()
    assert [r.is_anomaly for r in got] == _brute(counts)
    assert got[20].is_anomaly == 1 and got[33].is_anomaly == 1


def test_counts_only_shuffle(spark):
    df = _events(spark, [5, 5, 5])
    plan = daily_volume_anomaly(df)._jdf.queryExecution().executedPlan().toString()
    # the per-day count has a map-side partial phase before its exchange
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "EvalPython" not in plan


def test_total_outage_day_and_calendar_gap_densified(spark):
    # steady 200/day for 8 days, then NO events for 2 days, then steady again.
    # The zero days exist nowhere in the raw data — they must be synthesized.
    counts = [200] * 8 + [0, 0] + [200] * 3
    present = [(i, n) for i, n in enumerate(counts) if n > 0]
    rows = []
    for i, n in present:
        day = dt.datetime(2024, 3, 1, 9, 0) + dt.timedelta(days=i)
        rows += [(len(rows) + j, day) for j in range(n)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = daily_volume_anomaly(df).orderBy("day").collect()
    assert len(got) == len(counts)  # gap days materialized
    assert [r.n_events for r in got] == counts
    assert [r.is_anomaly for r in got] == _brute(counts)
    # first outage day fires; the second doesn't (day 8's zero is now in
    # the window and inflates its variance) — both match the brute force
    assert got[8].is_anomaly == 1 and got[9].is_anomaly == 0


# --- out_of_order_rows (late-arrival / watermark-sizing screen) -----------

def _seq_events(spark, rows):
    return spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")


def test_out_of_order_flags_against_running_max(spark):
    """The comparison is vs the running MAX of all predecessors, not just
    the immediately previous row: e3 is later than e2 but still before the
    e1 high-water mark, so it flags."""
    from data_check_spark.operators.anomaly import out_of_order_rows

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, t0 + dt.timedelta(minutes=30)),  # high-water mark
        (1, 2, t0),                             # 30 min behind e1 -> flags
        (1, 3, t0 + dt.timedelta(minutes=10)),  # after e2, before e1 -> flags
        (1, 4, t0 + dt.timedelta(minutes=40)),  # new max -> ok
        (2, 5, t0),                             # other key, first row -> ok
    ]
    got = {r.event_id: r for r in out_of_order_rows(_seq_events(spark, rows)).collect()}
    assert set(got) == {2, 3}
    assert got[2].late_by_us == 30 * 60 * 1_000_000
    assert got[3].late_by_us == 20 * 60 * 1_000_000
    assert got[2].prev_max_ts_str == "2024-01-01 12:30:00.000000"


def test_out_of_order_null_handling(spark):
    """NULL key/seq rows are exempt; NULL ts rows never flag and never
    poison the running max."""
    from data_check_spark.operators.anomaly import out_of_order_rows

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0 + dt.timedelta(hours=2)),
        (1, 2, None),                          # NULL ts: no flag, no poison
        (1, 3, t0 + dt.timedelta(hours=1)),    # behind e1 -> flags
        (None, 4, t0),                         # NULL key exempt
        (1, None, t0),                         # NULL seq exempt
    ]
    got = out_of_order_rows(_seq_events(spark, rows)).collect()
    assert [(r.user_id, r.event_id) for r in got] == [(1, 3)]


def test_out_of_order_single_keyed_exchange(spark):
    """One exchange on the key column; no self-join, no global sort."""
    from data_check_spark.operators.anomaly import out_of_order_rows

    plan = (
        out_of_order_rows(_seq_events(spark, [(1, 1, dt.datetime(2024, 1, 1))]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "rangepartitioning" not in plan
