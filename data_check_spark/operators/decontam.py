"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation set.

Standard LLM-pipeline hygiene (the n-gram-overlap test used by GPT-3 /
PaLM / Llama data cards): a training doc is contaminated if any of its
word n-grams appears in any benchmark/eval document.

Plan shape (the part that matters at 100 TB):
- The EVAL side is small (benchmarks are ~10^6 n-grams, not 10^12), so its
  distinct n-gram set is **broadcast** — the training corpus is never
  shuffled, the scan stays a narrow projection + explode + broadcast hash
  semi-join. ``.explain`` shows BroadcastHashJoin, no Exchange on the
  training side.
- n-gram construction is pure JVM higher-order functions
  (split → transform/slice → concat_ws): zero Python, codegen end-to-end.
- Output is per-doc aggregate counts, keyed by doc id — the only shuffle is
  the final count-by-doc, whose input is already filtered to matches
  (tiny: contamination is the exception, not the rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_tokens(text_col: str) -> Column:
    """Whitespace tokens of trimmed text (empty → empty array) — the SAME
    tokenizer as token_stats/repetition_stats (operators/text.py), so the
    decontamination n-grams can never silently diverge from the token
    statistics computed over the same corpus."""
    from data_check_spark.operators.text import _tokens

    return _tokens(text_col)


def word_ngrams(text_col: str, n: int) -> Column:
    """Distinct space-joined word n-grams as array<string> (JVM HOFs)."""
    toks = word_tokens(text_col)
    grams = F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    return F.array_distinct(grams)


def decontaminate(train: DataFrame, eval_df: DataFrame, *, n: int = 4) -> DataFrame:
    """Per-training-doc contamination report.

    Returns one row per training doc that shares ≥1 word n-gram with the
    eval set: ``(doc_id, n_shared_ngrams)`` where the count is over the
    doc's DISTINCT contaminated n-grams. Clean docs are absent (callers
    anti-join to drop contaminated docs; the absent-row convention keeps
    the result proportional to contamination, not corpus size).
    """
    eval_grams = (
        eval_df.select(F.explode(word_ngrams("text", n)).alias("g")).distinct()
    )
    train_grams = train.select(
        F.col("doc_id"), F.explode(word_ngrams("text", n)).alias("g")
    )
    hits = train_grams.join(F.broadcast(eval_grams), "g", "left_semi")
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_shared_ngrams"))


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """MinHash-LSH fuzzy contamination: training docs NEAR-duplicating an
    eval doc (estimated character-shingle Jaccard ≥ ``threshold``).

    The exact n-gram test (:func:`decontaminate`) misses lightly-edited
    benchmark leaks (reformatted whitespace, renamed variables, inserted
    words); sharing an LSH band with an eval doc catches them. Same
    signature machinery as ``dedup.minhash_lsh_pairs`` — including
    ``portable=True``, which makes the whole pipeline evaluable verbatim
    in DuckDB for the oracle.

    Plan shape at 100 TB: both sides reduce to (id, signature) band rows;
    the EVAL side is small (a benchmark), capped at 64
    rows per band bucket (deterministic by id order) and **broadcast** —
    the training corpus is never shuffled for the match. Verification is
    exact signature agreement on the joined rows; the only shuffle is the
    final per-train-doc aggregate over matches (tiny: contamination is
    the exception).

    Output per contaminated training doc (clean docs absent):
    ``(id, n_eval_matches, best_n_agree, best_est_q4, first_eval_id)``
    with integer est quantization (tie-free cross-engine, CLAUDE.md).
    """
    from data_check_spark.operators.dedup import NUM_PERM, banded_signatures

    from pyspark.sql.window import Window

    bt = banded_signatures(train, portable=portable)
    be = banded_signatures(eval_df, portable=portable)
    # cap degenerate eval buckets (boilerplate bands) deterministically
    w = Window.partitionBy("band", "bh").orderBy("_id")
    be = (
        be.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 64)
        .select(
            F.col("_id").alias("_eid"),
            F.col("signature").alias("_esig"),
            "band",
            "bh",
        )
    )
    cand = (
        bt.join(F.broadcast(be), ["band", "bh"])
        .select("_id", "_eid", "signature", "_esig")
        .dropDuplicates(["_id", "_eid"])
    )
    n_agree = F.size(
        F.filter(
            F.zip_with(F.col("signature"), F.col("_esig"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    scored = cand.withColumn("n_agree", n_agree.cast("long")).filter(
        F.col("n_agree").cast("double") / NUM_PERM >= threshold
    )
    return (
        scored.groupBy(F.col("_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("n_agree").alias("best_n_agree"),
            F.min("_eid").alias("first_eval_id"),
        )
        .withColumn(
            "best_est_q4",
            F.expr(f"(best_n_agree * 10000 + {NUM_PERM // 2}) div {NUM_PERM}")
            .cast("long"),
        )
        .select(
            "doc_id", "n_eval_matches", "best_n_agree", "best_est_q4", "first_eval_id"
        )
    )
