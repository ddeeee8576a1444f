"""Benford screen, duplicate-label conflicts, freshness and novelty audits."""

import math

from pyspark.sql import functions as F

from data_check_spark.operators.dedup import duplicate_label_conflicts
from data_check_spark.operators.profile import BENFORD_PPM, benford_screen


# ---------------------------------------------------------------------------
# Benford screen


def test_benford_ppm_constants():
    # the inlined constants ARE log10(1 + 1/d) in half-up ppm, and a full
    # distribution sums to ~1e6 (rounding spreads at most 9 half-ulps)
    for d in range(1, 10):
        assert BENFORD_PPM[d] == int(
            math.floor(math.log10(1.0 + 1.0 / d) * 1_000_000 + 0.5)
        )
    assert abs(sum(BENFORD_PPM.values()) - 1_000_000) <= 9


def test_benford_screen_counts_and_shares(spark):
    # 1.00 ×2, 25.50 ×1, 0.009 (rounds to 0.01 → digit 1), 900.0 ×1,
    # 0.0 / NULL / NaN / -3.0 (abs → digit 3) — zeros and NULLs drop
    rows = [(1.0,), (1.0,), (25.50,), (0.009,), (900.0,), (0.0,), (None,),
            (float("nan",),), (-3.0,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in benford_screen(df, "v").collect()}
    assert {d: out[d]["n"] for d in out} == {1: 3, 2: 1, 3: 1, 9: 1}
    total = sum(r["n"] for r in out.values())
    assert total == 6
    # half-up integer ppm: 3/6 = 500000 exactly
    assert out[1]["share_ppm"] == 500_000
    assert out[1]["benford_ppm"] == BENFORD_PPM[1]
    assert out[1]["delta_ppm"] == abs(500_000 - BENFORD_PPM[1])
    # shares of the digits present sum to ~1e6 (each digit rounds ≤ half-up)
    assert abs(sum(r["share_ppm"] for r in out.values()) - 1_000_000) <= len(out)


def test_benford_screen_uniform_data_flags_deviation(spark):
    # uniform 1..9999 first digits are NOT Benford: digit 1 share ≈ 1/9 vs
    # expected ≈ 0.301 — the screen must show a large delta
    df = spark.range(1, 10_000).select((F.col("id").cast("double")).alias("v"))
    out = {r["digit"]: r for r in benford_screen(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    assert out[1]["delta_ppm"] > 150_000


# ---------------------------------------------------------------------------
# Duplicate-content label conflicts


def test_duplicate_label_conflicts(spark):
    rows = [
        (1, "same text", "en"),
        (2, "same text", "de"),
        (3, "same text", "en"),
        (4, "other text", "en"),
        (5, "other text", "en"),   # duplicated but label-consistent: no row
        (6, "solo", "fr"),
        (7, None, "en"),
        (8, None, "de"),           # NULL text is not duplicated content
        (9, "null label", None),
        (10, "null label", "es"),  # NULL label ignored → 1 label → no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = duplicate_label_conflicts(df).collect()
    assert len(out) == 1
    (r,) = out
    assert r["n_rows"] == 3
    assert r["n_labels"] == 2
    assert r["labels"] == "de|en"
    assert (r["first_id"], r["last_id"]) == (1, 3)


# ---------------------------------------------------------------------------
# Freshness audit


def test_freshness_audit(spark):
    from data_check_spark.operators.anomaly import freshness_audit

    rows = [
        ("a", "2024-01-01 10:00:00.000000"),
        ("a", "2024-01-01 11:30:00.500000"),
        ("b", "2024-01-01 09:00:00.000000"),
        ("c", None),
        (None, "2024-01-01 11:59:00.000000"),
    ]
    df = spark.createDataFrame(rows, "k string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        r["k"]: r
        for r in freshness_audit(
            df, ts_col="ts", key_col="k", as_of="2024-01-01 12:00:00",
            max_age_minutes=60,
        ).collect()
    }
    # NULL ts rows and NULL keys drop entirely
    assert set(out) == {"a", "b"}
    # a: newest 11:30:00.5 → 1799.5s old → floor 1799 → within the 3600s SLA
    assert out["a"]["age_sec"] == 1799
    assert out["a"]["stale"] is False
    assert out["a"]["n_rows"] == 2
    assert out["a"]["last_ts_str"] == "2024-01-01 11:30:00.500000"
    # b: 3 hours old → stale
    assert out["b"]["age_sec"] == 3 * 3600
    assert out["b"]["stale"] is True


# ---------------------------------------------------------------------------
# Calendar gaps


def test_calendar_gaps(spark):
    from data_check_spark.operators.anomaly import calendar_gaps

    rows = [
        ("a", "2024-01-01 05:00:00"),
        ("a", "2024-01-02 05:00:00"),
        ("a", "2024-01-05 05:00:00"),   # a missing Jan 3, 4
        ("b", "2024-02-10 00:00:00"),
        ("b", "2024-02-10 23:59:59"),   # b: single active day, no gap
        ("c", None),                     # NULL ts only → no bounds → no rows
    ]
    df = spark.createDataFrame(rows, "k string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sorted(
        (r["k"], r["missing_date"])
        for r in calendar_gaps(df, ts_col="ts", key_col="k").collect()
    )
    assert out == [("a", "2024-01-03"), ("a", "2024-01-04")]


# ---------------------------------------------------------------------------
# Format masks


def test_format_masks(spark):
    from data_check_spark.operators.profile import format_masks

    rows = [
        ("Customer#001", "AB-12"),
        ("Customer#002", "AB-34"),
        ("customerX999", None),
        (None, "zz"),
    ]
    df = spark.createDataFrame(rows, "name string, code string")
    out = format_masks(df, ["name", "code"], top_n=2).collect()
    by = {(r["col_name"], r["mask"]): r for r in out}
    # name: 'Aaaaaaaa#999' ×2 ranks 1, others tie at 1 broken mask-asc
    top_name = [r for r in out if r["col_name"] == "name" and r["mask_rank"] == 1]
    assert top_name[0]["mask"] == "Aaaaaaaa#999"
    assert top_name[0]["n"] == 2
    assert top_name[0]["share_ppm"] == 500_000
    # rank 2 for name: '<null>' sorts before 'aaaaaaaaA999'
    rank2 = [r for r in out if r["col_name"] == "name" and r["mask_rank"] == 2]
    assert rank2[0]["mask"] == "<null>"
    # code: 'AA-99' ×2 wins
    assert ("code", "AA-99") in by and by[("code", "AA-99")]["mask_rank"] == 1
    # top_n bound respected
    assert all(r["mask_rank"] <= 2 for r in out)


def test_format_masks_empty_columns_guard(spark):
    import pytest as _pytest

    from data_check_spark.operators.profile import format_masks

    df = spark.createDataFrame([("x",)], "a string")
    with _pytest.raises(ValueError):
        format_masks(df, [])


def test_benford_screen_huge_magnitude_degrades_not_aborts(spark):
    # |x|*scale beyond the bigint lane must drop like NULL (ANSI try_cast),
    # never abort the job with CAST_OVERFLOW
    df = spark.createDataFrame([(1e18,), (2.0,)], "v double")
    out = {r["digit"]: r["n"] for r in benford_screen(df, "v").collect()}
    assert out == {2: 1}


def test_format_masks_truncates_long_values(spark):
    from data_check_spark.operators.profile import format_masks

    rows = [("x" * 100,), ("ab12",)]
    df = spark.createDataFrame(rows, "s string")
    out = {r["mask"]: r for r in format_masks(df, ["s"]).collect()}
    assert set(out) == {"a" * 64 + "+", "aa99"}
    assert out["a" * 64 + "+"]["n"] == 1


# ---------------------------------------------------------------------------
# Novelty rate


def test_novelty_rate(spark):
    from data_check_spark.operators.anomaly import novelty_rate

    rows = [
        ("u1", "2024-01-01 08:00:00"),
        ("u2", "2024-01-01 09:00:00"),
        ("u1", "2024-01-02 08:00:00"),  # repeat
        ("u3", "2024-01-02 09:00:00"),  # new
        ("u1", "2024-01-03 08:00:00"),  # all repeats
        ("u2", "2024-01-03 09:00:00"),
        (None, "2024-01-03 10:00:00"),  # NULL id exempt
        ("u4", None),                    # NULL ts exempt
    ]
    df = spark.createDataFrame(rows, "id string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["day"]: r for r in novelty_rate(df, id_col="id", ts_col="ts").collect()}
    assert set(out) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert (out["2024-01-01"]["n_rows"], out["2024-01-01"]["n_new_ids"]) == (2, 2)
    assert out["2024-01-01"]["novelty_ppm"] == 1_000_000
    assert (out["2024-01-02"]["n_rows"], out["2024-01-02"]["n_new_ids"]) == (2, 1)
    assert out["2024-01-02"]["novelty_ppm"] == 500_000
    assert (out["2024-01-03"]["n_rows"], out["2024-01-03"]["n_new_ids"]) == (2, 0)
    assert out["2024-01-03"]["novelty_ppm"] == 0

