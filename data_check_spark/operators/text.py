"""Text-analysis operators for training-data pipelines over `documents`.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs anywhere in this module. Each operator
returns a DataFrame keyed by ``doc_id`` so results join back to the corpus.

Operators:
- ``token_stats``      — token/char counts, avg token length, punct counts
- ``quality_score``    — composite heuristic quality signal
- ``lang_id``          — marker-word language heuristic (deterministic argmax)
- ``fingerprints``     — md5 content fingerprint (portable across engines)

Scale notes: everything here is a narrow projection (no shuffle); the only
wide operator is the dedup-by-fingerprint aggregation in dedup.py. Column
pruning reaches the parquet scan because inputs are plain column refs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Priority order for argmax tie-breaks (first wins on equal scores).
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "and", "of", "to", "in"]),
    ("de", ["der", "die", "und", "das", "nicht"]),
    ("es", ["el", "la", "de", "que", "los"]),
    ("fr", ["le", "les", "des", "est", "une"]),
    ("zh", ["的", "是", "不", "我", "在"]),
]


def _tokens(text_col: str) -> Column:
    """Whitespace tokenization of trimmed text (empty text → empty array)."""
    t = F.trim(F.col(text_col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def word_ngrams(text_col: str, n: int) -> Column:
    """Space-joined word n-grams of ``_tokens(text_col)`` in text order, as
    array<string> (JVM higher-order functions; empty below ``n`` tokens)."""
    toks = _tokens(text_col)
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


# GPT-2-style pre-tokenizer pattern, restricted to the Java∩RE2 subset so the
# DuckDB oracle evaluates it verbatim: contraction suffixes, space-prefixed
# letter runs, digit runs, and other-symbol runs (whitespace itself is not a
# token). Both engines use leftmost-first alternation, so match COUNTS agree.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def token_stats(df: DataFrame) -> DataFrame:
    toks = _tokens("text")
    n_tokens = F.size(toks)
    n_chars = F.length(F.col("text"))
    return df.select(
        F.col("doc_id"),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_calc"),
        F.when(n_tokens > 0, (n_chars.cast("double") / n_tokens)).otherwise(F.lit(0.0)).alias(
            "chars_per_token"
        ),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.length(F.col("text")) - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))).alias(
            "n_punct"
        ),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN)).alias("n_bpe_tokens"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality in [0,1]: length band, type/token ratio, punct density.

    Integer-count inputs → double arithmetic identical across engines.
    """
    stats = token_stats(df)
    return stats.select(
        "doc_id", "n_tokens", "n_distinct_tokens",
        _quality_q4(
            F.col("n_tokens"), F.col("n_distinct_tokens"),
            F.col("n_chars_calc"), F.col("n_punct"),
        ).alias("quality_q4"),
    )


def _quality_q4(n_tokens: Column, n_distinct: Column, n_chars: Column, n_punct: Column) -> Column:
    """Quality score quantized to 1e-4 grain ints: identical input doubles
    → identical ints on every engine, no representation-boundary rounding."""
    nt = n_tokens.cast("double")
    length_component = F.least(nt / F.lit(64.0), F.lit(1.0))
    ttr = F.when(n_tokens > 0, n_distinct.cast("double") / nt).otherwise(F.lit(0.0))
    punct_density = F.when(
        n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    punct_component = F.lit(1.0) - F.least(punct_density * F.lit(10.0), F.lit(1.0))
    score = length_component * F.lit(0.4) + ttr * F.lit(0.4) + punct_component * F.lit(0.2)
    return F.floor(score * F.lit(10000.0) + F.lit(0.5)).cast("long")


def _marker_score(text_col: str, words: list[str]) -> Column:
    """Count of marker-word occurrences (ASCII \\b word bounds; CJK plain)."""
    total = F.lit(0)
    for w in words:
        if any(ord(c) > 0x2E7F for c in w):  # CJK marker — no word boundaries
            pat = w
        else:
            pat = rf"\b{w}\b"
        total = total + F.regexp_count(F.col(text_col), F.lit(pat))
    return total


def _predicted_lang() -> Column:
    """Argmax when-chain over the ``s_<lang>`` score columns, first-wins on
    ties in LANG_MARKERS priority order: lang i beats earlier langs strictly
    and later langs non-strictly."""
    chain = None
    for i, (lang, _) in enumerate(LANG_MARKERS[:-1]):
        cond = None
        for j, (other, _) in enumerate(LANG_MARKERS):
            if i == j:
                continue
            c = (
                F.col(f"s_{lang}") >= F.col(f"s_{other}")
                if j > i
                else F.col(f"s_{lang}") > F.col(f"s_{other}")
            )
            cond = c if cond is None else (cond & c)
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    return chain.otherwise(F.lit(LANG_MARKERS[-1][0]))


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-word language ID; equal scores resolve in LANG_MARKERS order."""
    scored = df.select(
        F.col("doc_id"),
        *[_marker_score("text", words).alias(f"s_{lang}") for lang, words in LANG_MARKERS],
    )
    return scored.select(
        "doc_id", *[f"s_{lang}" for lang, _ in LANG_MARKERS],
        _predicted_lang().alias("predicted_lang"),
    )


def curation_pipeline(
    df: DataFrame,
    *,
    min_quality_q4: int = 6500,
    min_tokens: int = 25,
) -> DataFrame:
    """Single-scan corpus curation: fingerprint + quality + lang-ID compute
    in ONE chained projection over the text column (at 100 TB, three
    separate text scans joined on doc_id would triple the dominant IO);
    the only shuffle is the first-wins dedup window on the fingerprint."""
    from pyspark.sql.window import Window

    toks = _tokens("text")
    n_tokens = F.size(toks)
    s1 = df.select(
        F.col("doc_id"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fingerprint"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.col("text")).alias("n_chars_calc"),
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
        ).alias("n_punct"),
        *[_marker_score("text", words).alias(f"s_{lang}") for lang, words in LANG_MARKERS],
    )
    s2 = s1.select(
        "doc_id", "fingerprint", "n_tokens",
        _quality_q4(
            F.col("n_tokens"), F.col("n_distinct_tokens"),
            F.col("n_chars_calc"), F.col("n_punct"),
        ).alias("quality_q4"),
        _predicted_lang().alias("predicted_lang"),
    )
    # Quality/length filters run BEFORE the dedup window so rejected rows
    # never enter the corpus-wide fingerprint exchange. Semantically
    # identical to filtering after: exact duplicates share the text, hence
    # the same quality_q4/n_tokens — a fingerprint group passes or fails as
    # a whole, so the first-wins winner is unchanged.
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        s2.filter(
            (F.col("quality_q4") >= min_quality_q4)
            & (F.col("n_tokens") >= min_tokens)
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "fingerprint", "quality_q4", "predicted_lang", "n_tokens")
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals, computed per row with zero shuffle.

    - ``n_bigrams``           — total word bigrams (n_tokens − 1)
    - ``top_bigram_count``    — occurrences of the most frequent bigram
    - ``top_bigram_frac_q4``  — that count / n_bigrams, quantized to 1e-4
    - ``dup_token_frac_q4``   — (n_tokens − n_distinct) / n_tokens, q4

    The top-bigram count is the max run length in the SORTED bigram array,
    found with one ``aggregate`` fold over a (prev, run, best) struct —
    O(n log n) per row, all JVM higher-order functions. A groupBy-count
    formulation would shuffle every bigram of every document; this never
    leaves the row, which is the difference between a narrow projection
    and a corpus-sized exchange at 100 TB.
    """
    toks = _tokens("text")
    n_tokens = F.size(toks)
    bigrams = word_ngrams("text", 2)
    # Max run of equal adjacent elements in the sorted array == max bigram
    # multiplicity. Initial prev="" never matches a real bigram (tokens from
    # \s+ split of non-blank text are non-empty).
    top_count = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_bigrams = F.greatest(n_tokens - 1, F.lit(0)).cast("long")
    n_distinct = F.size(F.array_distinct(toks))
    return df.select(
        F.col("doc_id"),
        n_bigrams.alias("n_bigrams"),
        top_count.alias("top_bigram_count"),
        F.when(
            n_bigrams > 0,
            F.floor(top_count.cast("double") / n_bigrams.cast("double") * 10000.0 + 0.5),
        ).otherwise(F.lit(0)).cast("long").alias("top_bigram_frac_q4"),
        F.when(
            n_tokens > 0,
            F.floor(
                (n_tokens - n_distinct).cast("double") / n_tokens.cast("double") * 10000.0
                + 0.5
            ),
        ).otherwise(F.lit(0)).cast("long").alias("dup_token_frac_q4"),
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """Engine-portable content fingerprint (md5 of UTF-8 text)."""
    return df.select(
        F.col("doc_id"), F.md5(F.encode(F.col("text"), "UTF-8")).alias("fingerprint")
    )


ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_007


def rolling_hash(text_col: str) -> Column:
    """Polynomial rolling hash of a string, entirely JVM-side.

    ``h = fold(codepoints, 0, (h, c) -> (h*ROLLING_BASE + c) mod ROLLING_MOD)`` — the classic
    Rabin-Karp document fingerprint. The mod is applied at EVERY step so the
    accumulator stays < ROLLING_MOD*ROLLING_BASE + 0x10FFFF and can never overflow a 64-bit
    long, which keeps the arithmetic identical on any engine (DuckDB raises
    on bigint overflow; Spark non-ANSI wraps — neither path is ever hit).
    Unlike ``fingerprints`` (md5), a rolling hash extends incrementally:
    appending a suffix only folds the new characters, which is what chunked
    / streamed fingerprinting at scale wants.
    """
    t = F.col(text_col)
    # split('') walks the string ONCE into a char array; folding over
    # per-index substr(i, 1) re-scans the UTF-8 bytes from the start to
    # locate codepoint i, making the fold O(n²) per document. The filter
    # drops split's trailing '' element (limit=-1 keeps it), which would
    # otherwise fold one extra zero step and change every hash.
    chars = F.filter(F.split(t, ""), lambda c: c != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda h, c: (h * ROLLING_BASE + F.ascii(c)) % ROLLING_MOD,
    )


def unigram_rarity(df: DataFrame, *, vocab_size: int = 10_000) -> DataFrame:
    """Corpus-frequency (unigram-LM proxy) rarity signals per document.

    CCNet-style quality filtering scores documents under a language model;
    the exact-integer distributed core of that is: build the corpus unigram
    vocabulary, keep the ``vocab_size`` most frequent tokens, and score each
    document by how much of it falls outside that head. Output per row:

    - ``n_tokens``   — lowercased whitespace tokens (0 for blank/NULL text)
    - ``n_oov``      — tokens outside the top-``vocab_size`` head
    - ``freq_mass``  — Σ corpus frequency of the document's in-vocab tokens
      (the integer sufficient statistic of the unigram log-likelihood: the
      float score is Σ ln(freq/N), recoverable offline; keeping the engine
      output integer makes it bit-identical across engines)
    - ``oov_bp``     — basis points of OOV tokens, integer-floored

    Scale shape: the raw text is tokenized ONCE into a per-document
    term-frequency frame ``(id, token, tf)`` (map-side partial counts,
    then ``localCheckpoint`` — the repo's AQE-safe materialization — so
    the vocabulary pass and the scoring pass both read the narrow counts,
    never the text again). The vocabulary head re-aggregates that frame
    by token (counts only) and is selected with ``orderBy().limit(k)``,
    which Spark plans as TakeOrderedAndProject (per-partition top-k, then
    merge — no global sort, no single-partition window). Scoring is a
    broadcast join of the tf frame against the ≤``vocab_size``-row head,
    weighted by tf, then one re-aggregation keyed by ``doc_id``. Ties at
    the vocabulary cutoff break deterministically by (count desc, token
    asc).
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    tf = (
        df.select(
            F.col("doc_id"),
            F.explode_outer(F.transform(_tokens("text"), F.lower)).alias("_tok"),
        )
        .groupBy("doc_id", "_tok")
        # count("_tok") counts non-null: an empty/NULL doc keeps one
        # (id, NULL, 0) row so it survives to the output with zeros
        .agg(F.count("_tok").alias("_tf"))
        .localCheckpoint()
    )
    vocab = (
        tf.filter(F.col("_tok").isNotNull())
        .groupBy("_tok")
        .agg(F.sum("_tf").alias("_tok_count"))
        .orderBy(F.desc("_tok_count"), F.asc("_tok"))
        .limit(vocab_size)
    )
    scored = tf.join(F.broadcast(vocab), "_tok", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("_tf").cast("long").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("_tok").isNotNull() & F.col("_tok_count").isNull(),
                    F.col("_tf"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_oov"),
            F.sum(F.coalesce(F.col("_tf") * F.col("_tok_count"), F.lit(0)))
            .cast("long")
            .alias("freq_mass"),
        )
        .withColumn(
            "oov_bp",
            F.when(
                F.col("n_tokens") > 0, F.expr("n_oov * 10000L div n_tokens")
            ).otherwise(F.lit(0).cast("long")),
        )
    )


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
) -> DataFrame:
    """Sliding-window token chunks per document (RAG / embedding prep).

    Chunks start every ``chunk_tokens - overlap_tokens`` tokens; the last
    chunk(s) may be shorter. Blank/NULL documents yield no chunks. One row
    per chunk: ``(id, chunk_idx, start_token, n_chunk_tokens, chunk_text)``
    with ``chunk_text`` re-joined on single spaces.

    Scale: pure per-row JVM projection + explode — no shuffle, no Python;
    output fan-out is ~``1/step`` rows per token, linear in corpus size.
    """
    step = chunk_tokens - overlap_tokens
    if step <= 0:
        raise ValueError(
            f"chunk_tokens ({chunk_tokens}) must exceed overlap_tokens "
            f"({overlap_tokens})"
        )
    toks = _tokens("text")
    n = F.coalesce(F.size(toks), F.lit(0))
    # sequence(0, -1) would DESCEND in Spark — gate on n > 0 explicitly
    starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(step))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col("doc_id"), toks.alias("_toks"), F.explode(starts).alias("_start"))
        .withColumn("_chunk", F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens))
        .select(
            F.col("doc_id"),
            F.expr(f"_start div {step}").cast("long").alias("chunk_idx"),
            F.col("_start").cast("long").alias("start_token"),
            F.size("_chunk").cast("long").alias("n_chunk_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def top_ngrams(df: DataFrame, *, top_n: int = 20) -> DataFrame:
    """Corpus-wide most frequent token bigrams.

    The per-document sibling is ``repetition_stats`` (intra-doc repetition);
    this is the corpus-level boilerplate detector: the same navigation bar /
    license header shows up as a top bigram across millions of pages long
    before any pairwise dedup runs.

    Scale: bigrams are built per row JVM-side and aggregated with map-side
    partial counts (only (bigram, count) pairs shuffle); the final top-n is
    ``orderBy().limit(n)`` → TakeOrderedAndProject. The rank window runs on
    ≤ ``top_n`` rows.
    """
    from pyspark.sql.window import Window

    top = (
        df.select(F.explode(word_ngrams("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("bigram"))
    return top.withColumn("rank", F.row_number().over(w))


def top_terms_per_doc(df: DataFrame, *, top_k: int = 3) -> DataFrame:
    """TF-IDF-style distinguishing terms per document, integer-exact.

    Classic TF-IDF weighs ``tf · ln(N/df)``; the transcendental log makes
    cross-engine bit-equality fragile. The RANKING only needs a monotone
    rarity weight, so the score here is ``tf · 10^6 div df`` (term
    frequency × inverse document frequency in parts-per-million, integer
    floored) — same ordering intent, exactly reproducible anywhere. Ties
    break by (score desc, term asc); ``top_k`` rows per document (fewer
    for short docs), blank/NULL docs yield none.

    Scale shape: (doc, term) frequencies and per-term document frequencies
    are two counts-only aggregations with map-side partials; df joins back
    keyed by term (AQE broadcasts when the vocabulary head is small). The
    per-document top-k window partitions by ``doc_id`` — millions of small
    groups, no global window.
    """
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    from pyspark.sql.window import Window

    toks = df.select(
        F.col("doc_id"),
        F.explode(F.transform(_tokens("text"), F.lower)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("relevance_ppm"), F.asc("term")
    )
    return (
        tf.join(docfreq, "term")
        .withColumn("relevance_ppm", F.expr("tf * 1000000L div df"))
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_k)
        .select("doc_id", "term", "tf", "df", "relevance_ppm", "term_rank")
    )


def vocab_coverage(
    df: DataFrame,
    *,
    vocab_sizes: tuple[int, ...] = (100, 1000, 10000),
) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary, one row per k:
    ``(vocab_k, covered, total_tokens, coverage_ppm)`` — the "how big must
    the tokenizer vocab be" corpus curve (and a cheap corpus-drift tripwire:
    a falling top-10k coverage means the token distribution moved).

    Scale shape: ONE heavy pass — token counts via map-side-combined
    groupBy; everything after runs on the distinct-vocab frame (total is a
    sum over it, the head is TakeOrdered on max(vocab_sizes) rows with a
    deterministic (count desc, token asc) tie-break, the per-k cumulative
    sums are windows over that tiny head). Integer ppm, no floats."""
    ks = sorted(set(vocab_sizes))
    if not ks or ks[0] <= 0:
        raise ValueError(f"vocab_sizes must be positive, got {vocab_sizes}")
    counts = (
        df.select(F.explode(_tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # both consumers read the counts once
    )
    total = counts.agg(F.sum("cnt").alias("total_tokens"))
    head = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(ks[-1])
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    ranked = head.select(F.col("cnt"), F.row_number().over(w).alias("rank"))
    ks_df = F.broadcast(
        ranked.sparkSession.createDataFrame([(k,) for k in ks], "vocab_k int")
    )
    return (
        ranked.join(ks_df, F.col("rank") <= F.col("vocab_k"))
        .groupBy("vocab_k")
        .agg(F.sum("cnt").alias("covered"))
        .crossJoin(F.broadcast(total))
        .select(
            "vocab_k",
            "covered",
            "total_tokens",
            F.expr("covered * 1000000L div greatest(total_tokens, 1)").alias("coverage_ppm"),
        )
    )


def bigram_coherence(df: DataFrame) -> DataFrame:
    """Bigram-LM coherence scoring — the conditional-probability sibling of
    :func:`unigram_rarity`.

    CCNet/KenLM-style filters rank documents by LM perplexity; the
    distributed integer-exact core of a bigram LM is: count every corpus
    bigram and every bigram PREFIX, then score each document's bigrams by
    their conditional probability ``P(w_i | w_{i-1}) = count(w_{i-1} w_i) /
    count(w_{i-1} ·)``. Text whose continuations are corpus-typical scores
    high; text full of corpus-ambiguous continuations scores low. Fully
    corpus-novel text degenerates to P = 1/1 per bigram — which is why
    ``n_unseen`` is emitted alongside: a combined filter flags documents
    that are either incoherent (low ``coherence_bp`` on seen bigrams) or
    novel-noise (high ``n_unseen`` share). Output per document:

    - ``n_bigrams``    — adjacent lowercased token pairs (0 if < 2 tokens)
    - ``n_unseen``     — bigrams occurring exactly once corpus-wide (novel
      to this document: a plagiarism/noise signal in either direction)
    - ``cond_bp_sum``  — Σ over bigram occurrences of
      ``floor(10000 · bg_count / prefix_count)`` (integer basis points —
      bit-identical across engines; the float log-score is recoverable
      offline). Fits in int64 up to ~10^14 corpus bigrams.
    - ``coherence_bp`` — ``cond_bp_sum div n_bigrams`` (mean conditional
      probability in bp; 10000 = every bigram fully determined by prefix)

    Scale shape: text is scanned ONCE into a per-document bigram
    term-frequency frame (map-side partial counts, then the repo's AQE-safe
    ``localCheckpoint``); corpus bigram and prefix counts re-aggregate that
    narrow frame; scoring joins the tf frame to both count tables keyed by
    bigram/prefix (plain shuffled hash joins — the count tables are
    corpus-vocabulary-sized, NOT broadcastable at web scale) and
    re-aggregates by document. The raw text never shuffles.
    """
    toks = F.transform(_tokens("text"), F.lower)
    n = F.coalesce(F.size(toks), F.lit(0))
    pair = "struct<_prefix:string,_bg:string>"
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("_prefix"),
                F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ).alias("_bg"),
            ),
        ),
    ).otherwise(F.array().cast(f"array<{pair}>"))
    tf = (
        df.select(F.col("doc_id"), F.explode_outer(grams).alias("_g"))
        # count("_g._bg") counts non-null: a short/blank doc keeps one
        # (id, NULL, NULL, 0) row so it reaches the output with zeros
        .select("doc_id", F.col("_g._prefix").alias("_prefix"), F.col("_g._bg").alias("_bg"))
        .groupBy("doc_id", "_prefix", "_bg")
        .agg(F.count("_bg").alias("_tf"))
        .localCheckpoint()
    )
    bg_counts = (
        tf.filter(F.col("_bg").isNotNull())
        .groupBy("_bg")
        .agg(F.sum("_tf").cast("long").alias("_bgc"))
    )
    px_counts = (
        tf.filter(F.col("_prefix").isNotNull())
        .groupBy("_prefix")
        .agg(F.sum("_tf").cast("long").alias("_pxc"))
    )
    scored = tf.join(bg_counts, "_bg", "left").join(px_counts, "_prefix", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("_tf").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("_bgc") == 1, F.col("_tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_unseen"),
            F.sum(
                F.coalesce(
                    F.expr("_tf * ((_bgc * 10000L) div _pxc)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("cond_bp_sum"),
        )
        .withColumn(
            "coherence_bp",
            F.when(
                F.col("n_bigrams") > 0, F.expr("cond_bp_sum div n_bigrams")
            ).otherwise(F.lit(0).cast("long")),
        )
    )


def token_drift(
    current: DataFrame,
    baseline: DataFrame,
    *,
    k: int = 20,
    threshold_ppm: int = 1000,
) -> DataFrame:
    """Top-k token-share drift between two corpus slices (tokenizer /
    scraper / upstream filter changes move head-token shares immediately).

    One counts pass over the union (side-tagged conditional sums, map-side
    partials), TakeOrdered head by combined count (deterministic count-desc
    then token-asc tie-break — never a global sort), then per-token shares
    in ppm of each slice's total tokens: ``(token, cnt_cur, cnt_base,
    share_cur_ppm, share_base_ppm, delta_ppm, drifted)`` with
    ``drifted = |delta_ppm| > threshold_ppm``. NULL/blank texts contribute
    no tokens. Scale: the shuffle carries one (token, partials) row per
    distinct token per partition; the head and the two 1-row totals are the
    only driver-sized artifacts.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if threshold_ppm <= 0:
        raise ValueError(f"threshold_ppm must be positive, got {threshold_ppm}")
    tagged = current.select(
        F.lit(1).alias("_cur"), _tokens("text").alias("_toks")
    ).unionByName(
        baseline.select(F.lit(0).alias("_cur"), _tokens("text").alias("_toks"))
    )
    tok = tagged.select("_cur", F.explode("_toks").alias("token")).filter(
        F.col("token") != ""
    )
    counts = tok.groupBy("token").agg(
        F.sum("_cur").cast("long").alias("cnt_cur"),
        F.sum(1 - F.col("_cur")).cast("long").alias("cnt_base"),
    )
    head = counts.orderBy(
        F.desc(F.col("cnt_cur") + F.col("cnt_base")), F.asc("token")
    ).limit(k)
    totals = counts.agg(
        F.sum("cnt_cur").alias("_tot_cur"), F.sum("cnt_base").alias("_tot_base")
    )
    return (
        head.crossJoin(F.broadcast(totals))
        .selectExpr(
            "token", "cnt_cur", "cnt_base",
            "CASE WHEN _tot_cur > 0 THEN cnt_cur * 1000000 div _tot_cur"
            " ELSE NULL END AS share_cur_ppm",
            "CASE WHEN _tot_base > 0 THEN cnt_base * 1000000 div _tot_base"
            " ELSE NULL END AS share_base_ppm",
        )
        .selectExpr(
            "token", "cnt_cur", "cnt_base", "share_cur_ppm", "share_base_ppm",
            "share_cur_ppm - share_base_ppm AS delta_ppm",
            f"CASE WHEN share_cur_ppm - share_base_ppm IS NULL THEN NULL"
            f" ELSE abs(share_cur_ppm - share_base_ppm) > {threshold_ppm} END"
            " AS drifted",
        )
    )


# --- Extraction-quality screen (web-scale ingest QC) -----------------------
# Patterns live in the Java∩RE2 common subset so the DuckDB oracle
# evaluates the identical language: no backrefs, no lookarounds, \x{...}
# codepoint escapes.
MARKUP_TAG_PATTERN = r"<[^>]*>"
MARKUP_ENTITY_PATTERN = r"&[A-Za-z]+;|&#[0-9]+;"
REPLACEMENT_CHAR_PATTERN = r"\x{FFFD}"
CONTROL_CHAR_PATTERN = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"


def extraction_quality(df: DataFrame) -> DataFrame:
    """Text-extraction QC: flag docs whose HTML→text conversion failed.

    A web-scale corpus arrives through an extractor (trafilatura-style);
    when it misfires the tell-tales are residual markup (``<div>`` tags,
    ``&nbsp;`` entities), U+FFFD replacement characters (a charset was
    mis-sniffed upstream — the distributed generalization of the reference's
    cp932/utf-8 encoding fallback, dekispart.py CSV loaders), and raw C0
    control characters. Each signal is counted with built-in ``regexp_count``
    (JVM whole-stage codegen — ONE projection over ONE scan, no shuffle, no
    Python), and the verdict is integer-exact:

    - ``n_tags`` / ``n_entities`` — markup residue occurrences;
    - ``n_replacement`` / ``n_ctrl`` — mojibake signals;
    - ``markup_chars`` — chars removed by stripping tags+entities;
    - ``residue_bp`` — markup chars in basis points of the doc length
      (integer ``div``, no float compare);
    - ``status`` — ``mojibake`` > ``markup_residue`` (residue_bp above
      500) > ``light_markup`` > ``clean``, first match wins.
    """
    t = F.col("text")
    stripped = F.regexp_replace(
        F.regexp_replace(t, MARKUP_TAG_PATTERN, ""), MARKUP_ENTITY_PATTERN, ""
    )
    out = df.select(
        F.col("doc_id"),
        F.regexp_count(t, F.lit(MARKUP_TAG_PATTERN)).alias("n_tags"),
        F.regexp_count(t, F.lit(MARKUP_ENTITY_PATTERN)).alias("n_entities"),
        F.regexp_count(t, F.lit(REPLACEMENT_CHAR_PATTERN)).alias("n_replacement"),
        F.regexp_count(t, F.lit(CONTROL_CHAR_PATTERN)).alias("n_ctrl"),
        (F.length(t) - F.length(stripped)).alias("markup_chars"),
        F.greatest(F.length(t), F.lit(1)).alias("_len"),
    )
    return (
        # bigint lane: markup_chars is int32 and ANSI throws on overflow past
        # ~214k markup chars (multi-MB docs are real at corpus scale)
        out.withColumn(
            "residue_bp", F.expr("cast(markup_chars as bigint) * 10000 div _len")
        )
        .withColumn(
            "status",
            F.when((F.col("n_replacement") > 0) | (F.col("n_ctrl") > 0), F.lit("mojibake"))
            .when(F.col("residue_bp") > 500, F.lit("markup_residue"))
            .when((F.col("n_tags") + F.col("n_entities")) > 0, F.lit("light_markup"))
            .otherwise(F.lit("clean")),
        )
        .drop("_len")
    )


# Word-alphabet cap for word_edit_distance: Spark's `char(n)` wraps at 256
# (n % 256), so only codes 1..255 yield distinct single characters that
# DuckDB's chr() reproduces byte-for-byte (Latin-1 <-> same codepoints).
WER_VOCAB_MAX = 255


def word_edit_distance(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    threshold_bp: int = 2500,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact word-level edit distance (WER) per (reference, hypothesis) pair.

    The ASR-transcript QA screen: word error rate between a reference
    transcript and a hypothesis (a re-transcription, a second annotator, or
    the stored `transcript` column vs a recompute). Word-level Levenshtein
    is reduced to the built-in character-level ``levenshtein`` by mapping
    each distinct word of the PAIR to one character: the pair's combined
    vocabulary is sorted (binary collation — identical in Spark and DuckDB),
    and word i encodes as ``char(i)``. Both engines build the same encoded
    strings, so the JVM DP computes the exact word alignment — no Python,
    no shuffle, one projection.

    The alphabet holds ``WER_VOCAB_MAX`` (255) distinct words per pair —
    plenty for utterance transcripts; pairs beyond it get
    ``status='vocab_overflow'`` with NULL distance (error-as-data, same
    convention as the undecodable-payload audio rows) rather than a silently
    wrong number.

    Output: ``n_ref_words``, ``n_hyp_words``, ``word_edits`` (NULL on
    overflow), ``wer_bp`` = edits·10⁴ div n_ref_words, and ``status``:
    ``empty_ref`` > ``vocab_overflow`` > ``exceeds`` (wer_bp above
    ``threshold_bp``) > ``ok``. ``keep_cols`` pass through unchanged (the
    engine's transcript_wer rule threads ``partition`` this way).
    """
    # NULL text ≡ blank text (the engine-wide blank coercion): without the
    # coalesce a NULL array would NULL-out size()/status and silently
    # report 'ok' instead of 'empty_ref'
    empty = F.array().cast("array<string>")
    ref_toks = F.coalesce(_tokens("ref_text"), empty)
    hyp_toks = F.coalesce(_tokens("hyp_text"), empty)
    ref_toks = F.transform(ref_toks, F.lower)
    hyp_toks = F.transform(hyp_toks, F.lower)
    keep = list(keep_cols)
    base = df.select(
        F.col(id_col),
        *keep,
        ref_toks.alias("_ref"),
        hyp_toks.alias("_hyp"),
    ).select(
        id_col,
        *keep,
        "_ref",
        "_hyp",
        F.array_sort(F.array_distinct(F.concat("_ref", "_hyp"))).alias("_vocab"),
    )
    encoded = base.select(
        id_col,
        *keep,
        F.size("_ref").alias("n_ref_words"),
        F.size("_hyp").alias("n_hyp_words"),
        F.size("_vocab").alias("_n_vocab"),
        F.expr(
            "concat_ws('', transform(_ref, w -> char(array_position(_vocab, w))))"
        ).alias("_eref"),
        F.expr(
            "concat_ws('', transform(_hyp, w -> char(array_position(_vocab, w))))"
        ).alias("_ehyp"),
    )
    edits = F.when(
        F.col("_n_vocab") <= WER_VOCAB_MAX, F.levenshtein("_eref", "_ehyp")
    ).cast("long")
    out = encoded.select(
        id_col,
        *keep,
        F.col("n_ref_words").cast("long").alias("n_ref_words"),
        F.col("n_hyp_words").cast("long").alias("n_hyp_words"),
        F.col("_n_vocab"),
        edits.alias("word_edits"),
    )
    return out.select(
        id_col,
        *keep,
        "n_ref_words",
        "n_hyp_words",
        "word_edits",
        F.when(
            (F.col("n_ref_words") > 0) & F.col("word_edits").isNotNull(),
            F.expr("word_edits * 10000 div n_ref_words"),
        )
        .cast("long")
        .alias("wer_bp"),
        F.when(F.col("n_ref_words") == 0, F.lit("empty_ref"))
        .when(F.col("_n_vocab") > WER_VOCAB_MAX, F.lit("vocab_overflow"))
        .when(
            F.expr("word_edits * 10000 div n_ref_words") > threshold_bp, F.lit("exceeds")
        )
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


def normalize_text(df: DataFrame) -> DataFrame:
    """Width-fold normalization for a mixed-width corpus.

    Japanese-sourced text mixes full-width ASCII (ＡＢＣ１２３) with
    half-width; dedup fingerprints, keyword rules, and tokenizers all
    fracture on the mix (the same reason the reference folds widths before
    keyword matching). One ``translate`` projection (JVM codegen, zero
    shuffle) folds U+FF01–U+FF5E → ASCII and U+3000 → space; ``n_folded``
    counts the folded characters so a pipeline can route heavily-widened
    docs to review. NULL text stays NULL with ``n_folded = 0``.
    """
    from data_check_spark.functions.blank import (
        WIDTH_FULL_CHARS,
        fold_width,
    )

    pattern = "[" + WIDTH_FULL_CHARS + "　]"
    return df.select(
        F.col("doc_id"),
        fold_width("text").alias("text_norm"),
        F.coalesce(F.regexp_count(F.col("text"), F.lit(pattern)), F.lit(0))
        .cast("long")
        .alias("n_folded"),
    )
