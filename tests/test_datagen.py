"""Generator properties: determinism, planted buckets, skew, dim relations."""

from pyspark.sql import functions as F

from data_check_spark.datagen import (
    HOT_PARTITION,
    N_PARTITIONS,
    clips_df,
    transcripts_df,
)

N = 8000


def test_deterministic(spark):
    a = clips_df(spark, N, with_bytes=True).orderBy("_gen_id").limit(50).collect()
    b = clips_df(spark, N, with_bytes=True).orderBy("_gen_id").limit(50).collect()
    for ra, rb in zip(a, b):
        assert ra == rb


def test_planted_violation_classes_present(spark):
    df = clips_df(spark, N, with_bytes=False).cache()
    assert df.filter(F.col("clip_id").isNull()).count() > 0
    assert df.filter(F.col("clip_id") == "").count() > 0
    assert df.filter(F.col("sr_hz") == 0).count() > 0
    assert df.filter(F.col("sr_hz") == 7000).count() > 0
    assert df.filter(F.col("dur_ms") > 3_600_000).count() > 0
    assert df.filter(F.col("codec") == "wav?").count() > 0
    assert df.filter(F.col("transcript").startswith("★")).count() > 0
    df.unpersist()


def test_dup_pool_ids_are_format_clean(spark):
    """Duplicate-cluster fixtures must exercise ONLY uniqueness rules: pool
    ids stay CLIP_ID_FORMAT-valid (lowercase hex) and draw from the full
    50-value pool, independent of the violation-bucket hash."""
    from data_check_spark.datagen import BUCKETS

    lo, hi = BUCKETS["dup_group"]
    pool = (
        clips_df(spark, 100_000, with_bytes=False)
        .filter((F.col("_viol") >= lo) & (F.col("_viol") < hi))
        .select("clip_id")
    )
    bad = pool.filter(~F.col("clip_id").rlike("^clip_[0-9a-f]{16}$")).count()
    assert bad == 0
    # full pool reachable (not collapsed onto the 25 bucket values)
    assert pool.distinct().count() == 50


def test_skewed_partitions(spark):
    counts = {
        r["partition"]: r["n"]
        for r in clips_df(spark, N, with_bytes=False)
        .groupBy("partition").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(counts) == N_PARTITIONS
    med = sorted(counts.values())[len(counts) // 2]
    assert counts[HOT_PARTITION] > 10 * med


def test_transcripts_dim_relations(spark):
    clips = clips_df(spark, N, with_bytes=False)
    dim = transcripts_df(spark, N)
    # orphans exist (dim keys not in clips)
    fact_keys = clips.select("clip_id")
    orphans = dim.join(fact_keys, "clip_id", "left_anti")
    assert orphans.count() > 0
    # most well-formed clips match their dim text byte-for-byte
    joined = clips.join(dim, "clip_id").select(
        (F.col("transcript") == F.col("transcript_ref")).alias("eq")
    )
    frac = joined.filter("eq").count() / max(joined.count(), 1)
    assert frac > 0.95


def test_docs_df_deterministic_with_planted_dups(spark):
    """docs_df: pure-hash generation — identical under re-generation and
    repartitioning, with the planted exact/near duplicate structure."""
    from pyspark.sql import functions as F

    from tests.docs_corpus import DOC_BUCKETS, docs_df

    n = 4000
    a = docs_df(spark, n)
    b = docs_df(spark, n).repartition(7)
    assert a.count() == n
    # Identical content regardless of partitioning / regeneration.
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.filter(F.col("text").isNull() | (F.length("text") < 10)).count() == 0
    # Exact-duplicate bucket: rows sharing text with another row, roughly
    # the planted per-mille rate (pool rows themselves add a little).
    dup_rows = (
        a.groupBy("text").count().filter("count > 1").agg(F.sum("count")).first()[0]
    )
    lo, hi = DOC_BUCKETS["exact_dup"]
    planted = n * (hi - lo) / 10000
    assert planted * 0.7 <= dup_rows <= planted * 2.5
    # Near-dup bucket rows start with the swap marker and differ from every
    # pool text only in that first word.
    near = a.filter(F.col("text").startswith("wSWAP ")).count()
    lo_n, hi_n = DOC_BUCKETS["near_dup"]
    planted_n = n * (hi_n - lo_n) / 10000
    assert planted_n * 0.5 <= near <= planted_n * 2.0
