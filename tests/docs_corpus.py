"""Synthetic documents table for the text and near-duplicate operator tests.

Same philosophy as ``datagen.clips_df``: pure hash of the row id, no driver
loop, no RNG, so the output is identical at every parallelism level. Text is
a hash-chosen word sequence; two planted buckets give the dedup operators
real work: exact duplicates (text copied from a small pool) and near
duplicates (pool text with one word swapped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_VOCAB_SIZE = 512
DOC_BUCKETS = {
    "exact_dup": (0, 300),    # per-10k: ~3% exact duplicates of a 64-doc pool
    "near_dup": (300, 500),   # ~2% near duplicates (one word differs)
}


def _doc_words(id_expr):
    """Hash-chosen pseudo-word sequence (20-99 words) for one document id
    expression."""
    # ONE SQL array literal, not 512 F.lit py4j round trips (see CLAUDE.md:
    # the portable LSH weight matrix went 7.9s -> 0.8s with this change).
    vocab = F.expr(
        "array(" + ",".join(f"'w{(i * 2654435761) % 0xFFFF:04x}'" for i in range(DOC_VOCAB_SIZE)) + ")"
    )
    n_words = (F.pmod(F.xxhash64(id_expr, F.lit("nw")), F.lit(80)) + 20).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda j: F.element_at(
            vocab,
            (F.pmod(F.xxhash64(id_expr, j, F.lit("w")), F.lit(DOC_VOCAB_SIZE)) + 1).cast("int"),
        ),
    )


def docs_df(spark: SparkSession, n_rows: int) -> DataFrame:
    """Synthetic documents table (doc_id, text) at any scale.

    ~3% of rows duplicate one of 64 base documents verbatim and
    ~2% duplicate one with the first word replaced, so exact dedup, MinHash
    and Jaccard operators all find real structure."""
    df = spark.range(n_rows)
    v = F.pmod(F.xxhash64(F.col("id"), F.lit("dviol")), F.lit(10000))
    pool_id = F.pmod(F.xxhash64(F.col("id"), F.lit("dpool")), F.lit(64))
    lo_e, hi_e = DOC_BUCKETS["exact_dup"]
    lo_n, hi_n = DOC_BUCKETS["near_dup"]
    own = _doc_words(F.col("id"))
    pool = _doc_words(pool_id)
    near = F.concat(F.array(F.lit("wSWAP")), F.slice(pool, 2, 10_000))
    words = (
        F.when((v >= lo_e) & (v < hi_e), pool)
        .when((v >= lo_n) & (v < hi_n), near)
        .otherwise(own)
    )
    return df.select(
        F.col("id").alias("doc_id"),
        F.array_join(words, " ").alias("text"),
    )
