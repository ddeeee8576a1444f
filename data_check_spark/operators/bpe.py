"""Distributed BPE tokenizer induction over the `documents` corpus.

The missing LLM-pipeline stage between corpus curation and training: learn a
byte-pair-encoding merge table FROM the corpus, then segment the corpus with
it. Public algorithm (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"); the distributed shape here is the standard
production one:

- The raw corpus is touched ONCE: whitespace words collapse map-side into a
  ``(word, freq)`` frame (Zipf: vocabulary-sized, not corpus-sized — a few
  million rows at 100 TB, shuffled as distinct words only).
- Every merge iteration runs on that small frame: adjacent-symbol pair
  counts (one hash aggregate, counts-only shuffle), deterministic argmax
  (pair_freq desc, lhs asc, rhs asc — a 1-row collect), and a literal
  string rewrite applying the merge. ``localCheckpoint`` cuts the lineage
  every few merges so plan depth stays bounded.
- Segmentation re-uses the trained dictionary as a BROADCAST word →
  tokenization map (exactly how fast tokenizers work: tokenize each
  distinct word once, look words up). The corpus text is exploded and
  aggregated per document with map-side partial counts; the only exchange
  carries per-document partial sums.

Merge convention (pinned so the DuckDB oracle replays it bit-for-bit):
words are represented as space-joined symbol strings; one merge rewrites
``' lhs rhs '`` → ``' lhsrhs '`` on the space-padded word via plain
(non-regex) string replacement, which scans left-to-right non-overlapping
in Spark, DuckDB, and Python alike. For runs of a repeated symbol this
consumes the shared separator (``a a a`` → ``aa a``), a documented
convention choice — BPE implementations differ here and any fixed,
engine-identical choice is correct. Pair COUNTS are plain adjacent
positions (overlapping runs count each position).

No reference analog (the reference validates order rows; tokenizer
induction is a graft addition per the build brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.operators.text import _tokens

__all__ = ["word_symbol_frame", "bpe_train", "bpe_merges_df", "bpe_segment", "bpe_tokenize"]

# Checkpoint the evolving dictionary every N merges: keeps the iteration
# plan shallow without paying a materialization per merge.
_CHECKPOINT_EVERY = 8


def word_symbol_frame(df: DataFrame) -> DataFrame:
    """Collapse a corpus to lowercased ``(word, syms, freq)`` — the ONLY corpus-sized
    pass in BPE training.

    ``syms`` is the word as a space-joined character-symbol string
    (``"table"`` → ``"t a b l e"``), built with ``regexp_replace(word,
    '(.)', '$1 ')`` — the same expression DuckDB evaluates as
    ``regexp_replace(word, '(.)', '\\1 ', 'g')``, so both engines agree on
    the initial symbol layout for any codepoint.
    """
    word = F.explode(_tokens("text")).alias("word")
    toks = df.select(word).filter(F.col("word") != "").select(F.lower("word").alias("word"))
    return toks.groupBy("word").agg(F.count("*").alias("freq")).select(
        "word",
        F.trim(F.regexp_replace("word", r"(.)", r"$1 ")).alias("syms"),
        "freq",
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies over the dictionary frame.

    ``zip_with(slice(a,1,n-1), slice(a,2,n-1))`` pairs each symbol with its
    successor (JVM HOFs, no Python); single-symbol words contribute nothing.
    The aggregate shuffles (lhs, rhs, partial count) rows only.
    """
    arr = F.split("syms", " ")
    n = F.size(arr)
    pair = F.zip_with(
        F.slice(arr, 1, n - 1),
        F.slice(arr, F.lit(2), n - 1),
        lambda l, r: F.struct(l.alias("lhs"), r.alias("rhs")),
    )
    return (
        words.select("freq", F.explode(pair).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def _apply_merge(words: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Rewrite one merge into the dictionary (pinned padded-replace
    convention — see module docstring)."""
    padded = F.concat(F.lit(" "), F.col("syms"), F.lit(" "))
    merged = F.trim(
        F.replace(
            padded,
            F.lit(f" {lhs} {rhs} "),
            F.lit(f" {lhs}{rhs} "),
        )
    )
    return words.select("word", merged.alias("syms"), "freq")


def bpe_train(df: DataFrame, *, n_merges: int) -> tuple[list[dict], DataFrame]:
    """Learn ``n_merges`` BPE merges from a corpus.

    Returns ``(merges, dictionary)``: ``merges`` is the driver-side merge
    table (tiny — one dict per merge with ``merge_rank``/``lhs``/``rhs``/
    ``pair_freq``/``new_symbol``), ``dictionary`` the final
    ``(word, syms, freq)`` frame with all merges applied (the broadcastable
    word → tokenization map ``bpe_segment`` consumes).

    Training stops early if the dictionary runs out of adjacent pairs
    (every word fully merged) — fewer than ``n_merges`` rows come back.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    words = word_symbol_frame(df).localCheckpoint()
    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_freq"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, pair_freq = top[0]["lhs"], top[0]["rhs"], top[0]["pair_freq"]
        merges.append(
            {
                "merge_rank": rank,
                "lhs": lhs,
                "rhs": rhs,
                "pair_freq": int(pair_freq),
                "new_symbol": lhs + rhs,
            }
        )
        words = _apply_merge(words, lhs, rhs)
        if rank % _CHECKPOINT_EVERY == 0:
            words = words.localCheckpoint()
    return merges, words


def bpe_merges_df(spark: SparkSession, merges: list[dict]) -> DataFrame:
    """The merge table as a DataFrame (stable schema even when empty)."""
    schema = "merge_rank int, lhs string, rhs string, pair_freq bigint, new_symbol string"
    return spark.createDataFrame(
        [(m["merge_rank"], m["lhs"], m["rhs"], m["pair_freq"], m["new_symbol"]) for m in merges],
        schema=schema,
    )


def bpe_segment(df: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Segment a corpus with a trained dictionary; per-document piece stats.

    Output per input row: ``n_words`` (whitespace words), ``n_pieces``
    (BPE pieces after all merges; out-of-dictionary words fall back to
    character-level, one piece per char), ``n_word_chars`` (Σ word
    lengths), ``chars_per_piece_bp`` (compression ratio in integer basis
    points — the tokenizer-fertility number training-cost estimates need).
    Blank/NULL documents keep a zero row.

    Plan shape: dictionary → ``(word, n_pieces)`` broadcast; corpus explode
    + broadcast lookup + one per-``doc_id`` hash aggregate (map-side
    partials). The corpus text never shuffles.
    """
    dict_pieces = dictionary.select(
        "word", F.size(F.split("syms", " ")).alias("_dict_pieces")
    )
    word = F.explode_outer(_tokens("text")).alias("word")
    toks = df.select(F.col("doc_id"), word)
    toks = toks.select("doc_id", F.lower("word").alias("word"))
    # explode_outer keeps blank docs as (id, NULL) so they survive to output
    toks = toks.withColumn("word", F.when(F.col("word") == "", None).otherwise(F.col("word")))
    joined = toks.join(F.broadcast(dict_pieces), "word", "left")
    per_doc = joined.groupBy("doc_id").agg(
        F.count("word").cast("long").alias("n_words"),
        F.sum(
            F.when(F.col("word").isNotNull(), F.coalesce("_dict_pieces", F.length("word")))
        )
        .cast("long")
        .alias("n_pieces"),
        F.sum(F.when(F.col("word").isNotNull(), F.length("word")))
        .cast("long")
        .alias("n_word_chars"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.coalesce("n_pieces", F.lit(0)).cast("long").alias("n_pieces"),
        F.coalesce("n_word_chars", F.lit(0)).cast("long").alias("n_word_chars"),
        F.when(
            F.coalesce("n_pieces", F.lit(0)) > 0,
            F.expr("n_word_chars * 10000L div n_pieces"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("chars_per_piece_bp"),
    )


def bpe_tokenize(df: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Tokenize a corpus with a trained dictionary — the piece stream itself.

    Where :func:`bpe_segment` reports counts, this emits the artifact a
    training pipeline consumes: one row per piece, addressed as
    ``(id, word_idx, piece_idx)`` so the stream is reconstructable in
    order WITHOUT a global position (no per-doc window, no extra
    exchange). Out-of-dictionary words fall back to character pieces.

    Plan shape: posexplode words (map-side) → broadcast dictionary lookup
    → posexplode pieces (map-side). The only exchange is the broadcast of
    the word → pieces map; corpus text never shuffles.
    """
    dict_pieces = dictionary.select("word", F.split("syms", " ").alias("_dict_p"))
    toks = df.select(
        F.col("doc_id"), F.posexplode(_tokens("text")).alias("_wi", "word")
    )
    toks = toks.select("doc_id", "_wi", F.lower("word").alias("word"))
    fallback = F.split(F.trim(F.regexp_replace("word", r"(.)", r"$1 ")), " ")
    joined = toks.join(F.broadcast(dict_pieces), "word", "left").select(
        "doc_id",
        F.col("_wi").cast("int").alias("word_idx"),
        F.coalesce("_dict_p", fallback).alias("_p"),
    )
    return joined.select(
        "doc_id",
        "word_idx",
        F.posexplode("_p").alias("piece_idx", "piece"),
    ).select(
        "doc_id", "word_idx", F.col("piece_idx").cast("int").alias("piece_idx"), "piece"
    )
