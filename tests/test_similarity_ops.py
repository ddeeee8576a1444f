"""Similarity search: brute-force cosine top-k and LSH ANN."""

import math

import numpy as np
import pytest

from data_check_spark.operators.similarity import (
    cosine_topk,
    embedding_norms,
    lsh_ann_topk,
)

DIM = 16
N = 120


def _vec(rng):
    v = rng.standard_normal(DIM)
    return [float(x) for x in v]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    rows = [(i, _vec(rng)) for i in range(N)]
    # plant: vec 100 ≈ vec 0 (tiny perturbation)
    base = np.array(rows[0][1])
    rows[100] = (100, [float(x) for x in base + 0.001])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def _cos(a, b):
    a, b = np.array(a), np.array(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_embedding_norms(vectors):
    df, rows = vectors
    out = {r["vec_id"]: r for r in embedding_norms(df).collect()}
    assert out[0]["dim"] == DIM
    assert abs(float(out[0]["l2_norm"]) - np.linalg.norm(rows[0][1])) < 1e-3


def test_cosine_topk_exact(vectors):
    df, rows = vectors
    queries = df.filter("vec_id < 2").selectExpr("vec_id as q_id", "embedding as q_vec")
    got = cosine_topk(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], float(r["cosine"])))
    # brute-force in numpy for query 0
    sims = sorted(
        ((_cos(rows[0][1], v), i) for i, v in rows if i != 0), key=lambda t: (-t[0], t[1])
    )[:5]
    expect_ids = [i for _, i in sims]
    got_ids = [v for _, v, _ in sorted(by_q[0])]
    assert got_ids == expect_ids
    assert got_ids[0] == 100  # planted near-identical vector is rank 1
    for (rank, vid, cos_got), (cos_exp, vid_exp) in zip(sorted(by_q[0]), sims):
        assert abs(cos_got - cos_exp) < 1e-3


def test_lsh_ann_finds_planted_neighbor(vectors):
    df, rows = vectors
    queries = df.filter("vec_id = 0").selectExpr("vec_id as q_id", "embedding as q_vec")
    got = lsh_ann_topk(df, queries, k=5, n_planes=8, multiprobe=4).collect()
    assert got, "ANN returned no candidates"
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ids[0] == 100  # near-identical vector shares the bucket
    assert all(r["q_id"] == 0 for r in got)


def test_lsh_candidates_subset_is_ranked_by_true_cosine(vectors):
    df, rows = vectors
    queries = df.filter("vec_id = 0").selectExpr("vec_id as q_id", "embedding as q_vec")
    got = lsh_ann_topk(df, queries, k=50, n_planes=8, multiprobe=2).collect()
    cosines = [float(r["cosine"]) for r in sorted(got, key=lambda r: r["rank"])]
    assert cosines == sorted(cosines, reverse=True)


def test_exact_pairs_guard(spark, monkeypatch):
    """exact_cosine_pairs refuses corpora beyond max_rows (O(n^2) guard)."""
    import pytest

    from data_check_spark.operators import similarity
    from data_check_spark.operators.similarity import exact_cosine_pairs

    rows = [(i, [float(i), 1.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "EXACT_PAIRS_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="max_rows"):
        exact_cosine_pairs(df)
    # under the limit it runs
    monkeypatch.setattr(similarity, "EXACT_PAIRS_MAX_ROWS", 100)
    assert exact_cosine_pairs(df, threshold=0.99).count() > 0


def test_lsh_pairs_subset_of_exact_with_exact_values(spark):
    """LSH pair route: reported cosines are exact (match the brute-force
    values) and the pair set is a subset of the exact pair set."""
    from data_check_spark.operators.similarity import (
        exact_cosine_pairs,
        lsh_near_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in exact_cosine_pairs(emb, threshold=0.3).collect()}
    # Both signature families: default (xxhash64) and portable (the one the
    # registered lsh_embedding_near_dup query ships).
    for kwargs in ({}, {"portable_dim": 64}):
        lsh = {(r["id_a"], r["id_b"]): r["cosine"]
               for r in lsh_near_dup_pairs(emb, threshold=0.3, **kwargs).collect()}
        assert set(lsh) <= set(exact), kwargs
        for pair, cos in lsh.items():
            assert cos == exact[pair], kwargs


def test_lsh_pairs_recall_on_planted_near_dups(spark, monkeypatch):
    """The LSH pair route must recover nearly all PLANTED near-duplicates
    (cosine >= 0.95) — the regime the scale path is for. Weakly similar
    pairs (0.3) are allowed to be missed; near-identical ones are not."""
    import numpy as np

    from data_check_spark.operators import similarity
    from data_check_spark.operators.similarity import lsh_near_dup_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    # 20 planted near-dups: tiny perturbation of vectors 0..19
    planted = []
    for i in range(20):
        vec = base[i] + rng.normal(scale=0.02, size=16)
        rows.append((1000 + i, [float(x) for x in vec]))
        planted.append((i, 1000 + i))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "MULTIPROBE_FLIPS", 8)
    got = {(r["id_a"], r["id_b"])
           for r in lsh_near_dup_pairs(df, threshold=0.95).collect()}
    recall = sum(p in got for p in planted) / len(planted)
    assert recall >= 0.9, f"planted near-dup recall {recall}"


def test_lsh_ann_recall_at_10_vs_exact(spark):
    """Quantified quality gate for the approximate ANN path: multi-table
    LSH with the registered query's parameters must reach recall@10 >= 0.9
    against the exact brute-force top-10 on the sf0.01 embeddings."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import cosine_topk, lsh_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    exact = {(r["q_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=10).collect()}
    # Both signature families; portable is what lsh_ann_embeddings ships.
    for kwargs in ({}, {"portable_dim": 64}):
        approx = {
            (r["q_id"], r["vec_id"])
            for r in lsh_ann_topk(
                emb, q, k=10, n_planes=4, multiprobe=4, n_tables=4, **kwargs
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, f"recall@10 {recall} {kwargs}"


def test_ivf_ann_recall_at_10_vs_exact(spark):
    """IVF route quality gate: recall@10 >= 0.9 vs exact top-10 at the
    registered query's parameters (isotropic corpus -> high probe ratio;
    clustered real corpora prune harder at the same recall)."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import cosine_topk, ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    exact = {(r["q_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=10).collect()}
    approx = {
        (r["q_id"], r["vec_id"])
        for r in ivf_ann_topk(emb, q, k=10, n_lists=8, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@10 {recall}"


def test_ivf_full_probe_equals_exact(spark):
    """n_probe == n_lists degrades IVF to the exact scan."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import cosine_topk, ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    exact = {(r["q_id"], r["rank"], r["vec_id"], r["cosine"])
             for r in cosine_topk(emb, q, k=10).collect()}
    ivf = {(r["q_id"], r["rank"], r["vec_id"], r["cosine"])
           for r in ivf_ann_topk(emb, q, k=10, n_lists=4, n_probe=4).collect()}
    assert ivf == exact


def test_portable_signature_matches_independent_recompute(spark, vectors):
    """Spark's portable (integer-exact) LSH signature equals a from-scratch
    hashlib+numpy recomputation — the invariant the DuckDB oracle relies on."""
    import hashlib

    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import (
        QUANT_SCALE,
        portable_lsh_signature,
        portable_plane_table,
    )

    df, rows = vectors
    n_planes = 8
    got = {
        r["vec_id"]: r["sig"]
        for r in df.select(
            "vec_id",
            portable_lsh_signature(
                F.col("embedding").cast("array<double>"), n_planes, DIM
            ).alias("sig"),
        ).collect()
    }
    weights = portable_plane_table(n_planes, DIM)
    # Independent weight derivation (not via the helper's arithmetic).
    for p in (0, n_planes - 1):
        for i in (0, DIM - 1):
            h = int(hashlib.md5(f"{p}:{i}:plane".encode()).hexdigest()[:15], 16)
            assert weights[p][i] == h % 2000 - 1000
    for vid, vec in rows:
        xq = [math.floor(x * QUANT_SCALE + 0.5) for x in vec]
        sig = 0
        for p in range(n_planes):
            if sum(a * w for a, w in zip(xq, weights[p])) > 0:
                sig |= 1 << p
        assert got[vid] == sig, vid


def test_semantic_dedup_embeddings_invariants(spark):
    """End-to-end semantic dedup: every corpus vector appears exactly once,
    exactly one kept copy per cluster, the kept copy is the cluster's min id
    (first-wins), and singleton rows are their own kept size-1 cluster."""
    from data_check_spark.queries import semantic_dedup_embeddings

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = semantic_dedup_embeddings(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == emb.count()
    assert len({r["vec_id"] for r in rows}) == len(rows)
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["kept"] == 1]
        assert len(kept) == 1 and kept[0]["vec_id"] == cid == min(m["vec_id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)
    # the sf0.001 corpus has planted near-dups: at least one real cluster
    assert any(len(m) > 1 for m in by_cluster.values())


def test_semantic_dedup_plan_no_nested_loop(spark):
    from data_check_spark.queries import semantic_dedup_embeddings

    out = semantic_dedup_embeddings(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_centroids_hand_computed(spark):
    from data_check_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [("a", [1.0, -2.0]), ("a", [2.0, 3.0]), ("b", [0.5, 0.5]),
         (None, [9.0, 9.0]), ("c", None)],
        "label string, embedding array<double>",
    )
    out = {(r["label"], r["pos"]): r for r in label_centroids(df).collect()}
    assert set(out) == {("a", 1), ("a", 2), ("b", 1), ("b", 2)}
    r = out[("a", 1)]
    assert (r["n_vecs"], r["sum_q"], r["centroid_q"]) == (2, 3_000_000, 1_500_000)
    # negative sum: truncating div on both engines
    assert out[("a", 2)]["sum_q"] == 1_000_000 and out[("a", 2)]["centroid_q"] == 500_000
    assert out[("b", 1)]["centroid_q"] == 500_000


def test_label_centroids_partial_agg_plan(spark):
    """The explode must collapse map-side: partial_sum before the exchange
    (shuffle carries labels x dim rows, never n x dim)."""
    from data_check_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [("a", [1.0, 2.0])] * 50, "label string, embedding array<double>"
    )
    plan = label_centroids(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "Partial" in plan


def test_portable_ivf_full_probe_equals_exact(spark):
    """n_probe == n_lists degrades the portable IVF to the exact scan —
    value-identical to cosine_topk, independent of seeding quality."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import cosine_topk, portable_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    exact = {(r["q_id"], r["rank"], r["vec_id"], r["cosine"])
             for r in cosine_topk(emb, q, k=10).collect()}
    ivf = {(r["q_id"], r["rank"], r["vec_id"], r["cosine"])
           for r in portable_ivf_topk(emb, q, k=10, n_lists=4, n_probe=4).collect()}
    assert ivf == exact


def test_portable_ivf_recall_at_10_vs_exact(spark):
    """Quality gate for the deterministic quantizer at the registered
    query's parameters (8 lists, 6 probes, 2 integer-Lloyd refinements):
    recall@10 >= 0.9 on the isotropic corpus. Also pins that Lloyd
    refinement helps — the raw md5 seeding alone routes worse."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import cosine_topk, portable_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    exact = {(r["q_id"], r["vec_id"]) for r in cosine_topk(emb, q, k=10).collect()}

    def _recall(iters: int) -> float:
        approx = {
            (r["q_id"], r["vec_id"])
            for r in portable_ivf_topk(
                emb, q, k=10, n_lists=8, n_probe=6, lloyd_iters=iters
            ).collect()
        }
        return len(exact & approx) / len(exact)

    refined = _recall(2)
    assert refined >= 0.9, f"recall@10 {refined}"
    assert refined >= _recall(0), "Lloyd refinement must not hurt recall here"


def test_portable_ivf_probe_guard(spark):
    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import portable_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(1).selectExpr("vec_id as q_id", "embedding as q_vec")
    with pytest.raises(ValueError, match="n_probe"):
        portable_ivf_topk(emb, q, n_lists=4, n_probe=5)


def test_embedding_quality_rules_and_precedence(spark):
    from data_check_spark.operators.similarity import embedding_quality

    inf, nan = float("inf"), float("nan")
    rows = [
        (1, [0.6, 0.8, 0.0]),            # normsq_q = 1_000_000_000_000 — in band
        (2, None),                        # EMB_NULL
        (3, [0.6, 0.8]),                  # EMB_DIM (2)
        (4, [nan, 0.8, 0.0]),             # EMB_NON_FINITE
        (5, [0.6, inf, -inf]),            # EMB_NON_FINITE (2 bad elems)
        (6, [0.0, 0.0, 0.0]),             # EMB_ZERO
        (7, [6.0, 8.0, 0.0]),             # EMB_NORM_RANGE (1e14, too big)
        (8, [nan, 0.8]),                  # dim wins over non-finite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["rule_id"], r["observed"])
        for r in embedding_quality(
            df, expected_dim=3,
            normsq_q_lo=900_000_000_000, normsq_q_hi=1_100_000_000_000,
        ).collect()
    }
    assert 1 not in got
    assert got[2] == ("EMB_NULL", "null")
    assert got[3] == ("EMB_DIM", "2")
    assert got[4] == ("EMB_NON_FINITE", "1")
    assert got[5] == ("EMB_NON_FINITE", "2")
    assert got[6] == ("EMB_ZERO", "zero")
    assert got[7] == ("EMB_NORM_RANGE", "100000000000000")
    assert got[8] == ("EMB_DIM", "2")


def test_embedding_quality_shuffle_free_plan(spark):
    from data_check_spark.operators.similarity import embedding_quality

    df = spark.createDataFrame(
        [(1, [0.1] * 4)], "vec_id long, embedding array<float>"
    )
    plan = embedding_quality(
        df, expected_dim=4, normsq_q_lo=0, normsq_q_hi=10**15
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure JVM projection


def test_embedding_drift_flags_shifted_dims(spark):
    from data_check_spark.operators.similarity import embedding_drift

    base_rows = [(i, [0.1, -0.2, 0.3]) for i in range(40)]
    # current: dim 2 shifted by +0.5, dim 1/3 unchanged
    cur_rows = [(i, [0.1, 0.3, 0.3]) for i in range(40)]
    base = spark.createDataFrame(base_rows, "id long, embedding array<double>")
    cur = spark.createDataFrame(cur_rows, "id long, embedding array<double>")
    got = {r["pos"]: r.asDict() for r in
           embedding_drift(cur, base, threshold_q=100_000).collect()}
    assert len(got) == 3
    assert got[1]["drifted"] is False and got[1]["delta_q"] == 0
    assert got[2]["drifted"] is True
    assert got[2]["delta_q"] == 500_000
    assert got[2]["mean_base_q"] == -200_000 and got[2]["mean_cur_q"] == 300_000
    assert got[3]["drifted"] is False
    assert got[1]["n_cur"] == 40 and got[1]["n_base"] == 40


def test_embedding_drift_dim_mismatch_and_guard(spark):
    import pytest as _pytest
    from data_check_spark.operators.similarity import embedding_drift

    base = spark.createDataFrame([(1, [0.1, 0.2])], "id long, embedding array<double>")
    cur = spark.createDataFrame([(1, [0.1, 0.2, 0.9])], "id long, embedding array<double>")
    got = {r["pos"]: r.asDict() for r in
           embedding_drift(cur, base, threshold_q=1000).collect()}
    # dim 3 exists only in current: NULL baseline mean, NULL drifted, n_base=0
    assert got[3]["mean_base_q"] is None
    assert got[3]["drifted"] is None
    assert got[3]["n_base"] == 0 and got[3]["n_cur"] == 1
    with _pytest.raises(ValueError, match="threshold_q"):
        embedding_drift(cur, base, threshold_q=0)


def test_dim_means_partial_agg_plan(spark):
    from data_check_spark.operators.similarity import dim_means

    df = spark.createDataFrame([(i, [0.1] * 8) for i in range(100)],
                               "id long, embedding array<double>")
    plan = dim_means(df)._jdf.queryExecution().executedPlan().toString()
    # the posexplode blow-up collapses map-side before the exchange
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.count("Exchange") == 1


def test_quantization_plan_exact_codec(spark):
    from data_check_spark.operators.similarity import quantization_plan

    # dim 0: values ±1.0 → absmax 1e6, codes ±127 exact → err 0 at extremes;
    # dim 1: 0.5 against absmax 1.0 → code round(63.5)=64 → recon
    # (2*64*1e6+127) div 254 = 503937 → err 3937 (~0.5% of scale)
    rows = [
        (1, [1.0, 0.5]),
        (2, [-1.0, 1.0]),
        (3, None),                      # NULL vector ignored
        (4, [float("nan"), 0.25]),      # NaN element ignored, row's dim1 kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in quantization_plan(df).collect()}
    assert out[0]["n_values"] == 2 and out[0]["absmax_q"] == 1_000_000
    assert out[0]["max_err_q"] == 0 and out[0]["err_ppm"] == 0
    assert out[1]["n_values"] == 3
    assert out[1]["absmax_q"] == 1_000_000
    # worst error among {0.5, 1.0, 0.25}: hand-check the 0.5 case
    code = (2 * 500_000 * 127 + 1_000_000) // (2 * 1_000_000)
    recon = (2 * code * 1_000_000 + 127) // (2 * 127)
    assert out[1]["max_err_q"] >= abs(500_000 - recon) > 0


def test_quantization_plan_zero_dim_and_bits_guard(spark):
    """The int8 plan over an all-zero dimension (the bits guard went with
    the bits option)."""
    from data_check_spark.operators.similarity import quantization_plan

    df = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in quantization_plan(df).collect()}
    # all-zero dimension: absmax 0 → err_ppm NULL, no division error
    assert out[0]["absmax_q"] == 0 and out[0]["err_ppm"] is None


def test_ivf_fast_agrees_with_portable_on_registered_probes(spark):
    """Value-pins the rows-only registry entry ivf_fast_ann_embeddings: on
    the EXACT probes the registered query uses (vec_id < 3, k=10, n_lists=8,
    n_probe=6), the MLlib-KMeans fast path and the value-checked portable
    quantizer must agree on >= 80% of each query's top-10 (both are
    >=0.9-recall approximations of the same exact top-10), and the fast
    path itself must hold recall@10 >= 0.9 vs brute force. This is the
    strongest check available — the MLlib float iteration itself has no
    DuckDB replay (similarity.py documents why)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        portable_ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )

    def by_query(df):
        out = defaultdict(set)
        for r in df.collect():
            out[r["q_id"]].add(r["vec_id"])
        return out

    fast = by_query(ivf_ann_topk(emb, q, k=10, n_lists=8, n_probe=6))
    portable = by_query(
        portable_ivf_topk(emb, q, k=10, n_lists=8, n_probe=6, lloyd_iters=2)
    )
    exact = by_query(cosine_topk(emb, q, k=10))
    assert set(fast) == set(exact) == set(portable)
    for qid in exact:
        assert len(fast[qid] & portable[qid]) >= 8, (qid, fast[qid], portable[qid])
        assert len(fast[qid] & exact[qid]) >= 9, (qid, fast[qid], exact[qid])


def test_ivf_add_batch_equals_full_assignment(spark, vectors, tmp_path):
    """Incremental IVF maintenance: train on the base 3/4, persist,
    add-batch the remaining 1/4 against the PERSISTED centroids — the
    resulting store must be row-identical (id, cell) to one full
    assignment of the union, and a search over the maintained index must
    equal the search over the fully-rebuilt-assignment index (same
    centroids), because assignment is a pure function of
    (vector, centroids)."""
    from pyspark.sql import functions as F

    from data_check_spark.operators.similarity import (
        _rerank_probed,
        ivf_add_batch,
        load_portable_ivf_index,
        portable_ivf_assign,
        portable_ivf_train,
        save_portable_ivf_index,
    )

    df, _rows = vectors
    base, new = df.filter("vec_id % 4 != 0"), df.filter("vec_id % 4 = 0")
    cents = portable_ivf_train(base, n_lists=6, lloyd_iters=1)
    path = str(tmp_path / "ivf")
    save_portable_ivf_index(portable_ivf_assign(base, cents), cents, path)
    ivf_add_batch(spark, path, new)

    maintained, cents_back = load_portable_ivf_index(spark, path)
    assert cents_back == cents  # persisted quantizer is exact
    got = {(r["_vid"], r["_cell"]) for r in maintained.collect()}
    full = portable_ivf_assign(df, cents)
    want = {(r["_vid"], r["_cell"]) for r in full.collect()}
    assert got == want and len(got) == df.count()

    # search equivalence over a probe of every cell (exact within index)
    q = df.filter("vec_id < 2").select(
        F.col("vec_id").alias("_qid"), F.col("embedding").alias("_qv")
    )
    probes = q.crossJoin(
        spark.createDataFrame([(c,) for c, _ in cents], "_cell int")
    )
    def topk(assigned):
        return sorted(
            (r["q_id"], r["rank"], r["vec_id"])
            for r in _rerank_probed(
                assigned.select("_vid", "_vv", "_cell"), probes, 5
            ).collect()
        )
    assert topk(maintained) == topk(full)
