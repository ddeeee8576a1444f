"""Dedup operators: exact, MinHash-LSH, SimHash, span and incremental."""

import pytest

from data_check_spark.operators import dedup
from data_check_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_64,
    simhash_near_pairs,
)

BASE = (
    "spark engine validates audio clips with declarative rules and emits "
    "violation rows for every failed constraint across partitions"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("audio", "video")),  # near dup
        (4, "completely different text about cooking pasta with tomatoes and basil leaves"),
        (5, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (6, BASE + " extra trailing words appended here"),  # near dup superset
        (7, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_groups(docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2
    assert groups[0]["keep_id"] == 1


def test_minhash_signature_shape(docs):
    sigs = minhash_signatures(docs).collect()
    assert all(len(s["signature"]) == 64 for s in sigs)
    by_id = {s["doc_id"]: s["signature"] for s in sigs}
    assert by_id[1] == by_id[2]  # identical text → identical signature
    agree_near = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    agree_far = sum(a == b for a, b in zip(by_id[1], by_id[4]))
    assert agree_near > agree_far


def test_minhash_lsh_pairs(docs):
    pairs = {(p["id_a"], p["id_b"]): float(p["est_jaccard"])
             for p in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup found
    assert not any({a, b} == {4, 5} for a, b in pairs)  # unrelated not paired


def test_simhash(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_64(docs).collect()}
    assert sh[1] == sh[2]
    ham13 = bin((sh[1] ^ sh[3]) & (2**64 - 1)).count("1")
    ham14 = bin((sh[1] ^ sh[4]) & (2**64 - 1)).count("1")
    assert ham13 < ham14


def test_simhash_near_pairs(docs):
    pairs = {(p["id_a"], p["id_b"]): p["hamming"]
             for p in simhash_near_pairs(docs, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0


def test_minhash_portable_mode(docs):
    """Portable (md5 + affine perms) mode: same pipeline, engine-neutral
    hash and integer output contract (n_agree / est_q4)."""
    sigs = {s["doc_id"]: s["signature"]
            for s in minhash_signatures(docs, portable=True).collect()}
    assert all(len(s) == 64 for s in sigs.values())
    assert sigs[1] == sigs[2]  # identical text → identical signature
    pairs = {(p["id_a"], p["id_b"]): (p["n_agree"], p["est_q4"])
             for p in minhash_lsh_pairs(docs, threshold=0.5, portable=True).collect()}
    assert pairs[(1, 2)] == (64, 10000)
    assert (1, 3) in pairs or (2, 3) in pairs
    assert not any({a, b} == {4, 5} for a, b in pairs)


def test_simhash_portable_mode(docs):
    sh = {r["doc_id"]: r["simhash"]
          for r in simhash_64(docs, portable=True).collect()}
    assert sh[1] == sh[2]
    assert all(0 <= v < (1 << 60) for v in sh.values())  # top 4 bits unset
    pairs = {(p["id_a"], p["id_b"]): p["hamming"]
             for p in simhash_near_pairs(docs, max_hamming=10, portable=True).collect()}
    assert pairs.get((1, 2)) == 0


def test_lsh_scales_not_quadratic(docs):
    """Bucket cap bounds pair fan-out: plan contains no cartesian join."""
    plan = minhash_lsh_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_minhash_estimate_error_vs_exact_jaccard(spark):
    """Quantified quality gate for the MinHash path: on candidate pairs the
    64-permutation estimate must track the exact n-gram Jaccard closely
    (expected std ~ sqrt(j(1-j)/64) ~ 0.06). The exact reference is plain
    Python over the same distinct ``SHINGLE_K``-char shingles the signatures
    hash (a text shorter than k is its own single shingle)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = {(r["id_a"], r["id_b"]): float(r["est_jaccard"])
           for r in minhash_lsh_pairs(docs, threshold=0.05).collect()}
    k = dedup.SHINGLE_K

    def shingles(t):
        return {t} if len(t) < k else {t[i:i + k] for i in range(len(t) - k + 1)}

    sets = {r["doc_id"]: shingles(r["text"])
            for r in docs.select("doc_id", "text").collect() if r["text"] is not None}
    exact = {}
    for a, b in est:
        if a in sets and b in sets:
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.05:
                exact[(a, b)] = j
    common = set(exact) & set(est)
    assert len(common) >= 5, f"too few overlapping pairs to judge: {len(common)}"
    errs = [abs(exact[p] - est[p]) for p in common]
    assert sum(errs) / len(errs) < 0.1, f"mean abs error {sum(errs)/len(errs)}"
    assert max(errs) < 0.3, f"max abs error {max(errs)}"


def test_simhash_blocking_complete_vs_brute_force(spark):
    """Pigeonhole completeness, verified against brute force: every pair
    with hamming(simhash) <= 3 in the corpus must appear in the blocked
    result (the 256-member bucket cap is above any bucket of this corpus,
    so truncation can't hide pairs)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hashes = {r["doc_id"]: r["simhash"] for r in simhash_64(docs).collect()}
    ids = sorted(hashes)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((hashes[a] ^ hashes[b]) & 0xFFFFFFFFFFFFFFFF).count("1") <= 3:
                want.add((a, b))
    got = {(r["id_a"], r["id_b"])
           for r in simhash_near_pairs(docs, max_hamming=3).collect()}
    assert want <= got, f"missed pairs: {sorted(want - got)[:10]}"
    assert got == want  # and nothing beyond the radius


def test_minhash_recall_on_planted_docs_corpus(spark):
    """On the docs_df synthetic corpus, MinHash-LSH must recover every
    planted exact-duplicate pair and nearly all planted near-dup pairs
    (one word swapped out of 20-100) — pins the default hash family's
    recall, not just its estimate accuracy."""
    from pyspark.sql import functions as F

    from tests.docs_corpus import docs_df

    docs = docs_df(spark, 3000)
    found = {
        (p["id_a"], p["id_b"])
        for p in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    # Ground truth from the generator: group by text for exact dups; near
    # dups pair a wSWAP row with the pool row sharing its tail.
    rows = docs.collect()
    by_text = {}
    for r in rows:
        by_text.setdefault(r["text"], []).append(r["doc_id"])
    exact_pairs = set()
    for ids in by_text.values():
        ids = sorted(ids)
        exact_pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    tail_to_ids = {}
    for r in rows:
        head, _, tail = r["text"].partition(" ")
        tail_to_ids.setdefault(tail, []).append((r["doc_id"], head))
    near_pairs = set()
    for entries in tail_to_ids.values():
        swaps = [i for i, h in entries if h == "wSWAP"]
        bases = [i for i, h in entries if h != "wSWAP"]
        near_pairs.update(tuple(sorted((s, b))) for s in swaps for b in bases)
    near_pairs -= exact_pairs
    assert exact_pairs and near_pairs  # the corpus really plants both kinds
    assert exact_pairs <= found
    near_recall = len(near_pairs & found) / len(near_pairs)
    assert near_recall >= 0.9, near_recall


def test_span_dedup_first_wins_and_tails(spark):
    from data_check_spark.operators.dedup import span_dedup

    rows = [
        # doc 1: spans [a b c] [d e f] [g] — tail "g" kept
        (1, "a b c d e f g"),
        # doc 2: repeats doc 1's first span + own content — span dropped
        (2, "a b c x y z"),
        # doc 3: repeats doc 2's second span — kept in 2 (first), dropped in 3
        (3, "x y z q r s"),
        # doc 4: every span is a duplicate of an earlier one -> text ''
        (4, "a b c x y z"),
        # doc 5: intra-doc duplicated span — second copy dropped
        (5, "p q r p q r"),
        # doc 6: tail-only doc, shorter than a span — untouched
        (6, "hi there"),
        # doc 7: empty / doc 8: NULL -> NULL text_clean, 0 spans
        (7, ""),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in span_dedup(df, span_tokens=3).collect()}

    assert out[1]["text_clean"] == "a b c d e f g"
    assert (out[1]["n_spans"], out[1]["n_removed"]) == (3, 0)
    assert out[2]["text_clean"] == "x y z"
    assert (out[2]["n_spans"], out[2]["n_removed"]) == (2, 1)
    assert out[3]["text_clean"] == "q r s"
    assert out[4]["text_clean"] == ""
    assert (out[4]["n_spans"], out[4]["n_removed"]) == (2, 2)
    assert out[5]["text_clean"] == "p q r"
    assert (out[5]["n_spans"], out[5]["n_removed"]) == (2, 1)
    assert out[6]["text_clean"] == "hi there"
    assert (out[6]["n_spans"], out[6]["n_removed"]) == (1, 0)
    for d in (7, 8):
        assert out[d]["text_clean"] is None
        assert (out[d]["n_spans"], out[d]["n_removed"]) == (0, 0)


def test_span_dedup_guard(spark):
    from data_check_spark.operators.dedup import span_dedup

    df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="span_tokens"):
        span_dedup(df, span_tokens=0)


def test_span_dedup_whitespace_normalized(spark):
    """Tabs/multiple spaces fingerprint identically (same tokens)."""
    from data_check_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [(1, "a  b\tc"), (2, "a b c")], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r for r in span_dedup(df, span_tokens=3).collect()}
    assert out[1]["text_clean"] == "a b c"
    assert out[2]["text_clean"] == ""
    assert out[2]["n_removed"] == 1


def test_incremental_exact_dedup_flags_history_hits(spark):
    from data_check_spark.operators.dedup import incremental_exact_dedup

    newb = spark.createDataFrame(
        [(1, "seen before"), (2, "brand new"), (3, "also seen"), (4, None)],
        "doc_id long, text string",
    )
    import hashlib

    fp = lambda s: hashlib.md5(s.encode()).hexdigest()
    store = spark.createDataFrame(
        [(fp("seen before"),), (fp("also seen"),), (fp("never sent"),), (None,)],
        "fingerprint string",
    )
    out = {r["doc_id"]: r["is_dup"] for r in incremental_exact_dedup(newb, store).collect()}
    # NULL text → md5(NULL) = NULL fingerprint → never a dup (three-valued IN)
    assert out == {1: 1, 2: 0, 3: 1, 4: 0}


def test_incremental_dedup_bloom_filters_store_before_join(spark):
    from data_check_spark.queries import QUERIES

    df = QUERIES["incremental_dedup_documents"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the store side must be pruned by the inlined bloom predicate (forall
    # over the bitmap literal) BEFORE the exact join — and the exact join
    # must still be there (bloom never decides membership alone)
    assert "forall" in plan
    assert "Join" in plan
