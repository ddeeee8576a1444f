"""Heavy-hitter keys: exact counts above a share threshold."""

from pyspark.sql import functions as F


def test_heavy_hitters_exact_above_threshold(spark):
    from data_check_spark.operators.sketches import heavy_hitters

    # 20k rows: 'hot' 5%, 'warm' 3.5%, 18.3k unique fillers — far more
    # distinct keys than the MG budget, so candidate eviction really runs.
    rows = (
        [("hot",)] * 1000 + [("warm",)] * 700 + [(f"u{i}",) for i in range(18300)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(8)
    got = heavy_hitters(df, "key", threshold_ppm=30000, budget=128).collect()
    assert [(r.key, r.n_rows, r.rank) for r in got] == [("hot", 1000, 1), ("warm", 700, 2)]
    assert got[0].share_ppm == 50000 and got[1].share_ppm == 35000


def test_heavy_hitters_matches_exact_groupby(spark):
    from data_check_spark.operators.sketches import heavy_hitters
    from pyspark.sql import functions as F

    # key k = floor(sqrt(id % 400)) has share (2k+1)/400 — a known ramp, so
    # the 5% threshold keeps exactly k >= 10.
    df = spark.range(30000).select(
        F.floor(F.sqrt(F.col("id") % 400)).cast("string").alias("key")
    ).repartition(6)
    total = df.count()
    exact = {
        r.key: r.n
        for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()
        if r.n * 1_000_000 >= total * 50000
    }
    got = {
        r.key: r.n_rows
        for r in heavy_hitters(df, "key", threshold_ppm=50000, budget=64).collect()
    }
    assert got == exact and len(exact) >= 10


def test_heavy_hitters_budget_guard(spark):
    from data_check_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([("a",)], "key string")
    import pytest as _pt

    with _pt.raises(ValueError):
        heavy_hitters(df, "key", threshold_ppm=100, budget=64)


def test_heavy_hitters_null_keys_count_in_total_only(spark):
    from data_check_spark.operators.sketches import heavy_hitters

    rows = [("hot",)] * 50 + [(None,)] * 50
    df = spark.createDataFrame(rows, "key string")
    got = heavy_hitters(df, "key", threshold_ppm=100000, budget=64).collect()
    # hot is 50 of 100 total rows (nulls included in the denominator)
    assert [(r.key, r.n_rows, r.share_ppm) for r in got] == [("hot", 50, 500000)]
