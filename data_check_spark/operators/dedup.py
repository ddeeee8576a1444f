"""Deduplication operators for training-data pipelines over `documents`.

Three families, each a scale-path design:

- ``exact_duplicate_groups`` — md5 fingerprint → two-phase hash aggregate.
  One shuffle keyed by a 128-bit fingerprint (never the raw text); map-side
  partial counts bound reducer input exactly like the clip-uniqueness rule.
- ``minhash_signatures`` / ``minhash_lsh_pairs`` — char-shingle MinHash with
  banding. Shingling, the 64 permutations (``xxhash64(shingle, perm)``) and
  band hashes are ALL built-in JVM expressions (nested higher-order
  functions) — zero Python. The only shuffle moves (band, band_hash) pairs;
  candidate pairs are verified by signature agreement, never by re-reading
  text. Bucket fan-out is capped (``max_bucket``) so a degenerate bucket
  (e.g. the empty document) cannot produce O(n²) pairs.
- ``simhash_64`` / ``simhash_near_pairs`` — 64-bit SimHash from token
  hashes. Token hashing stays JVM-side; the bit-vote fold is a vectorized
  pandas UDF over the long[] hash array (numpy bit unpacking, no per-row
  Python loops over bits). Near-pairs block on 16-bit chunks (any equal
  chunk → candidate, catches all pairs with hamming ≤ 3 by pigeonhole).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_check_spark.operators.text import fingerprints

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def _bucket_pairs(
    members: "DataFrame",
    key_cols: list[str],
    payload: str,
    *,
    max_bucket: int,
    out_a: str,
    out_b: str,
) -> "DataFrame":
    """Shared bucketed candidate pairing (minhash bands, simhash chunks,
    LSH-ANN buckets): bucket members sorted + capped deterministically by id
    order, intra-bucket a<b pairs, cross-bucket dedup. ONE implementation so
    a capping/pairing fix can't drift across the three dedup routes.

    ``members`` must carry ``_id`` and ``payload`` columns plus the bucket
    ``key_cols``."""
    buckets = (
        members.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(F.struct(F.col("_id"), F.col(payload)))).alias("m"))
        .filter(F.size("m") > 1)
        .select(F.slice("m", 1, max_bucket).alias("m"))
    )
    return (
        buckets.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("m"),
                            lambda a: F.transform(
                                F.col("m"), lambda b: F.struct(a.alias("a"), b.alias("b"))
                            ),
                        )
                    ),
                    lambda p: p["a"]["_id"] < p["b"]["_id"],
                )
            ).alias("p")
        )
        .select(
            F.col("p.a._id").alias("id_a"),
            F.col("p.b._id").alias("id_b"),
            F.col(f"p.a.{payload}").alias(out_a),
            F.col(f"p.b.{payload}").alias(out_b),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """(fingerprint, n_docs, keep_id): one row per duplicated content value.

    keep_id = min doc id (first-wins, reference: dekispart.py:1088-1092).
    NULL text (no content → NULL fingerprint) is not "duplicated content"
    and is excluded.
    """
    fp = fingerprints(df)
    return (
        fp.filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def duplicate_label_conflicts(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Label noise on duplicated content: identical text, different labels.

    The training-data failure the exact-dedup pass alone cannot see: two
    byte-identical documents carrying contradictory labels (language tag,
    source tier, quality class) — keeping either one propagates a wrong
    label, and a model trained on both learns noise. One row per
    conflicted fingerprint group:

    - ``fingerprint`` — md5 of the UTF-8 text (never shuffles raw text)
    - ``n_rows``      — group size
    - ``n_labels``    — distinct non-NULL labels (> 1 by construction)
    - ``labels``      — '|'-joined sorted distinct labels (portable render)
    - ``first_id`` / ``last_id`` — min/max doc id, bounded example pointers
      (a full id list is unbounded on a degenerate group)

    Plan shape: same two-phase hash aggregate as ``exact_duplicate_groups``
    — one shuffle keyed by the 128-bit fingerprint; collect_set is bounded
    by the label-domain cardinality, not the group size."""
    fp = df.select(
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("fingerprint"),
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_label"),
    )
    return (
        fp.filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # long, not int: keeps the schema portable against engines whose
            # count(DISTINCT …) is 64-bit (the driver compares schemas).
            F.size(F.collect_set("_label")).cast("long").alias("n_labels"),
            F.array_join(F.array_sort(F.collect_set("_label")), "|").alias("labels"),
            F.min("_id").alias("first_id"),
            F.max("_id").alias("last_id"),
        )
        .filter(F.col("n_labels") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

SHINGLE_K = 8
NUM_PERM = 64
LSH_BANDS = 16  # 16 bands x 4 rows

# Engine-portable hash mode: xxhash64 (the default leaf hash) exists only on
# the JVM, so queries using it cannot be value-checked by the DuckDB oracle.
# ``portable=True`` swaps ONLY the leaf hash for a 60-bit md5 prefix plus
# affine permutations mod a Mersenne prime — every downstream stage (banding,
# bucket capping, candidate pairing, signature-agreement estimation) is
# byte-identical, so the oracle exercises the full LSH pipeline. md5 is ~3x
# slower than xxhash64 per shingle; production callers keep the default.
PORTABLE_PRIME = 2_147_483_647  # 2^31 - 1: a*h + b stays inside signed 64


def portable_perm_table(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants (a_p, b_p), inlined
    verbatim into the DuckDB oracle SQL — no RNG anywhere."""
    out = []
    for p in range(num_perm):
        a = (2654435761 * (p + 1)) % PORTABLE_PRIME
        b = (40503 * (p + 1) * (p + 1) + 17) % PORTABLE_PRIME
        out.append((a or 1, b))
    return out


def _portable_hash60(col: Column) -> Column:
    """First 60 bits of md5(utf8) as a non-negative long; DuckDB analog is
    cast(('0x' || substr(md5(s), 1, 15)) AS bigint)."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10).cast("long")


def _affine(a: int, b: int):
    """Closure factory (HOF lambdas must be unary — arity is inspected)."""
    return lambda h: (h * a + b) % PORTABLE_PRIME


def _shingles_expr(text_col: str, k: int) -> Column:
    """Distinct k-char shingles as array<string> (JVM higher-order fns)."""
    t = F.col(text_col)
    n = F.length(t)
    return F.when(n < k, F.array(t)).otherwise(
        F.array_distinct(F.transform(F.sequence(F.lit(1), n - k + 1), lambda i: t.substr(i, F.lit(k))))
    )


def minhash_signatures(df: DataFrame, *, portable: bool = False) -> DataFrame:
    """(id, signature array<long>[NUM_PERM]) over ``SHINGLE_K``-shingles —
    fully JVM-side MinHash.

    Both modes hash each shingle ONCE and derive the NUM_PERM minima from
    affine permutations of the cached base-hash array (the standard
    universal-hashing MinHash family). The alternative — one full string
    hash per (shingle, permutation) — costs NUM_PERM string passes and
    measured ~15x slower at NUM_PERM=64. ``portable`` only swaps the leaf:
    xxhash64 (fast, JVM-only) vs md5 prefix (DuckDB-evaluable)."""
    sh = _shingles_expr("text", SHINGLE_K)
    if portable:
        leaf = F.transform(sh, lambda s: _portable_hash60(s) % PORTABLE_PRIME)
    else:
        leaf = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(PORTABLE_PRIME)))
    base = df.select(F.col("doc_id"), leaf.alias("_hs"))
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_hs"), _affine(a, b)))
            for a, b in portable_perm_table(NUM_PERM)
        ]
    )
    return base.select(F.col("doc_id"), sig.alias("signature"))


def banded_signatures(df: DataFrame, *, portable: bool = False) -> DataFrame:
    """MinHash signatures exploded into LSH band buckets:
    ``(_id, signature, band, bh)`` — the candidate-generation frame of
    minhash_lsh_pairs."""
    rows = NUM_PERM // LSH_BANDS

    def _band_hash(b: Column) -> Column:
        sl = F.slice(F.col("signature"), b * rows + 1, rows)
        if portable:  # grouping key as a plain joined string — engine-neutral
            return F.concat_ws(",", F.transform(sl, lambda v: v.cast("string")))
        return F.xxhash64(sl.cast("string"))

    sigs = minhash_signatures(df, portable=portable)
    return sigs.select(
        F.col("doc_id").alias("_id"),
        F.col("signature"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(b.alias("band"), _band_hash(b).alias("bh")),
            )
        ).alias("bb"),
    ).select("_id", "signature", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard ≥ threshold).

    Candidate generation: band-hash buckets; verification: fraction of
    agreeing minhashes (unbiased Jaccard estimate) — signatures only.

    ``portable=True`` (oracle mode) additionally changes the OUTPUT contract
    to integer columns (``n_agree``, ``est_q4``): %.4f-formatted fractions of
    64 hit exact decimal-rounding ties (k ≡ 2 mod 4), where Java HALF_UP and
    C half-even disagree — integer quantization is tie-free (CLAUDE.md).
    """
    banded = banded_signatures(df, portable=portable)

    # Bucket members capped: a pathological bucket (empty docs, boilerplate)
    # is truncated deterministically by id order (shared _bucket_pairs).
    pairs = _bucket_pairs(
        banded, ["band", "bh"], "signature",
        max_bucket=64, out_a="sig_a", out_b="sig_b",
    )
    n_agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    if portable:
        # est_q4 = round(n_agree / num_perm * 1e4); exact for power-of-2
        # num_perm (the division is by 2^k, so the double is exact).
        return (
            pairs.withColumn("n_agree", n_agree.cast("long"))
            .filter(F.col("n_agree").cast("double") / NUM_PERM >= threshold)
            .select(
                "id_a",
                "id_b",
                "n_agree",
                F.floor((F.col("n_agree") * 10000 + F.lit(NUM_PERM // 2)) / F.lit(NUM_PERM))
                .cast("long")
                .alias("est_q4"),
            )
        )
    est = n_agree.cast("double") / F.lit(float(NUM_PERM))
    return (
        pairs.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.format_string("%.4f", F.col("est_jaccard")).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_64(df: DataFrame, *, portable: bool = False) -> DataFrame:
    """(id, simhash long): 64-bit SimHash over whitespace tokens.

    Token→hash is JVM (`xxhash64`); the per-doc bit vote runs as ONE
    vectorized pandas UDF over array<long> (numpy bit unpacking).

    ``portable=True`` swaps the token hash for the 60-bit md5 prefix (DuckDB
    oracle parity). Bits 60-63 of every hash are then 0, so those simhash
    bits always vote negative and land 0 — identical in both engines."""
    from data_check_spark.operators.text import _tokens

    # engine-wide tokenization (empty/NULL text → empty array → simhash 0,
    # not one phantom '' token voting on every bit)
    toks = _tokens("text")
    if portable:
        hashes = F.transform(toks, lambda t: _portable_hash60(t))
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def vote(batches):
        # mapInPandas, not a scalar pandas_udf: identical numpy work measured
        # ~12x faster here at high parallelism (CLAUDE.md)
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            for i, arr in enumerate(pdf["_h"]):
                if arr is None or len(arr) == 0:
                    continue
                a = np.asarray(arr, dtype=np.int64).astype(np.uint64)
                # bits: (n_tokens, 64) sign votes
                bits = ((a[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int32)
                votes = (2 * bits - 1).sum(axis=0)
                sh = np.bitwise_or.reduce(
                    np.where(votes > 0, np.uint64(1) << np.arange(64, dtype=np.uint64), np.uint64(0))
                )
                out[i] = np.int64(np.uint64(sh).astype(np.int64))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select(F.col("doc_id"), hashes.alias("_h")).mapInPandas(
        vote, schema=f"doc_id {id_type}, simhash long"
    )


def simhash_near_pairs(df: DataFrame, *, max_hamming: int = 3, portable: bool = False) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via chunk blocking.

    The 64 bits are split into ``max_hamming + 1`` contiguous chunks, so by
    pigeonhole any pair within the hamming budget agrees on at least one
    chunk — chunk-equality blocking is COMPLETE for the requested radius at
    every ``max_hamming`` (a fixed 4-chunk split would silently miss pairs
    whose >3 differing bits spread across all four chunks)."""
    n_chunks = max_hamming + 1
    if n_chunks < 1 or n_chunks > 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    # Contiguous chunk boundaries; widths differ by at most 1 bit.
    bounds = [(c * 64 // n_chunks, (c + 1) * 64 // n_chunks) for c in range(n_chunks)]
    sh = simhash_64(df, portable=portable)
    chunked = sh.select(
        F.col("doc_id").alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        (
                            F.col("simhash")
                            if hi - lo == 64
                            else F.shiftright(F.col("simhash"), lo).bitwiseAND(
                                F.lit((1 << (hi - lo)) - 1)
                            )
                        ).alias("ck"),
                    )
                    for c, (lo, hi) in enumerate(bounds)
                ]
            )
        ).alias("cc"),
    ).select("_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.ck").alias("ck"))
    pairs = _bucket_pairs(
        chunked, ["chunk", "ck"], "simhash",
        max_bucket=256, out_a="sh_a", out_b="sh_b",
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def span_dedup(df: DataFrame, *, span_tokens: int = 32) -> DataFrame:
    """Cross-document duplicate-SPAN removal — sub-document dedup.

    Whole-doc dedup (``exact_duplicate_groups``) misses the dominant failure
    mode of web corpora: distinct pages sharing long boilerplate runs
    (license headers, navigation text, quoted passages). Exact substring
    dedup (MassiveText/RefinedWeb) needs a corpus-wide suffix array — not a
    Spark-shaped computation. The scalable approximation: tile each document
    into NON-overlapping ``span_tokens``-token spans, fingerprint each span,
    and keep only the globally-first occurrence of any duplicated span
    (first-wins by ``(id, span index)``, the same keep rule as
    ``exact_duplicate_groups``). Partial tail spans (< ``span_tokens`` tokens)
    are never dropped — they are doc-specific remainders, and deduping short
    spans over-fires.

    Returns one row per input document:
    ``(id, text_clean, n_spans, n_removed)`` — ``text_clean`` is the kept
    spans re-joined on single spaces (whitespace-normalized, like
    ``chunk_documents``), ``''`` when every span was dropped, NULL when the
    document had no tokens at all.

    Plan shape: tiling is the pure-projection ``chunk_documents`` (overlap
    0), materialized once (localCheckpoint) so the eligible/tail branches
    don't each re-scan the corpus; the keep decision is ONE exchange keyed
    by the 128-bit span
    fingerprint (count + row_number windows over the same partitioning —
    single shuffle, two window ops); tails bypass that exchange entirely so
    a skewed "every short tail" partition cannot form; reassembly is the
    unavoidable exchange back to doc id. Nothing is ever joined all-pairs
    and only (fingerprint, span) rows shuffle — linear in corpus size.
    """
    from data_check_spark.operators.text import chunk_documents

    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    spans = chunk_documents(
        df,
        chunk_tokens=span_tokens,
        overlap_tokens=0,
    # materialize the tiling ONCE (AQE-safe localCheckpoint, the repo idiom):
    # the eligible and tail branches below would otherwise each re-scan and
    # re-explode the raw corpus — two full text scans instead of one
    ).localCheckpoint()
    full = spans.filter(F.col("n_chunk_tokens") == span_tokens)
    tails = spans.filter(F.col("n_chunk_tokens") != span_tokens)

    w = Window.partitionBy("_fp")
    wo = w.orderBy(F.col("doc_id").asc(), F.col("chunk_idx").asc())
    marked = (
        full.withColumn("_fp", F.md5("chunk_text"))
        .withColumn(
            "_keep",
            (F.count(F.lit(1)).over(w) == 1) | (F.row_number().over(wo) == 1),
        )
        .select("doc_id", "chunk_idx", "chunk_text", "_keep")
    )
    everything = marked.unionByName(
        tails.select("doc_id", "chunk_idx", "chunk_text", F.lit(True).alias("_keep"))
    )
    rebuilt = everything.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("chunk_idx", "chunk_text"))
                    )
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_removed"),
    )
    # token-less docs produced zero spans — restore them with NULL text
    return (
        df.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("text_clean"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def incremental_exact_dedup(new_docs: DataFrame, store_fps: DataFrame) -> DataFrame:
    """Batch-vs-history exact dedup: flag new documents whose content
    fingerprint already exists in the historical fingerprint store —
    the daily-ingest question ("which of today's docs have we EVER seen")
    that a one-shot corpus dedup (``exact_duplicate_groups``) doesn't answer.

    Scale shape — the store is the 10^12-row side, the new batch is the
    small side, so the Bloom filter is built over the NEW BATCH and pushed
    into the STORE scan (the reverse of ``bloom.bloom_semi_join``'s
    fact-vs-dim orientation):

    1. fingerprint the batch (md5 of text — one projection);
    2. ONE aggregate pass over the batch builds the bloom (batches are
       ~10^6-10^8 docs — well inside the inline-bitmap regime; the store
       side never needs a bloom of its own);
    3. the store scan keeps only bloom-positive fingerprints — a pure-JVM
       map-side predicate, so ~(batch/store)·|store| + fp·|store| rows
       survive instead of 10^12 reaching the exchange;
    4. the surviving candidate fingerprints (true hits + ~0.03% false
       positives) are distinct-projected and exact-joined back — the result
       is EXACTLY "fingerprint IN store", bloom or no bloom.

    Output: one row per new doc — (id, fingerprint, is_dup int). Novel rows
    (``is_dup = 0``) are the fingerprints to append to the store after the
    batch commits.
    """
    from data_check_spark.operators.bloom import build_bloom, might_contain

    fps = new_docs.select(
        F.col("doc_id"), F.md5(F.col("text")).alias("fingerprint")
    )
    bitmap = build_bloom(fps, "fingerprint")
    candidates = (
        store_fps.where(F.col("fingerprint").isNotNull())
        .where(might_contain("fingerprint", bitmap))
        .select(F.col("fingerprint").alias("_sfp"))
        .dropDuplicates()
        .withColumn("_hit", F.lit(1))
    )
    return (
        fps.join(candidates, fps["fingerprint"] == candidates["_sfp"], "left")
        .select(
            "doc_id",
            "fingerprint",
            F.coalesce(F.col("_hit"), F.lit(0)).cast("int").alias("is_dup"),
        )
    )
