"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``      — exact brute-force top-k: broadcast the (small) query
  set against the full corpus; dot/norms via JVM higher-order functions
  (``zip_with`` + ``aggregate``), rank via window. The correctness baseline.
- ``lsh_ann_topk``     — the scale path: random-hyperplane LSH. Plane
  weights are pseudo-random but fully deterministic JVM expressions
  (``xxhash64(plane, dim)``), signatures are n-bit ints, candidates come
  from signature-bucket joins (optionally multi-probe over 1-bit flips),
  exact cosine re-ranks only the candidates. At 10^12 rows the bucket join
  shuffles ids+signatures, never the vectors; vectors are re-read only for
  the candidate set.
- ``embedding_norms``  — sanity projection (also an oracle-checkable query).

All math accumulates in float64 (embeddings cast up first) so results are
portable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_PLANES = 16
MULTIPROBE_FLIPS = 4  # probe the exact bucket + the N 1-bit-flip buckets


def _vec_d(col) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def embedding_norms(df: DataFrame) -> DataFrame:
    v = _vec_d("embedding")
    return df.select(
        F.col("vec_id"),
        F.size("embedding").alias("dim"),
        F.format_string("%.4f", _norm(v)).alias("l2_norm"),
    )


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k neighbors per query (query set broadcast; self-matches
    by id are excluded). Returns (q_id, rank, vec_id, cosine)."""
    q = F.broadcast(queries.select(F.col("q_id").alias("_qid"), _vec_d("q_vec").alias("_qv")))
    v = vectors.select(F.col("vec_id").alias("_vid"), _vec_d("embedding").alias("_vv"))
    sim = _dot(F.col("_qv"), F.col("_vv")) / (_norm(F.col("_qv")) * _norm(F.col("_vv")))
    scored = (
        v.join(q, F.col("_vid") != F.col("_qid"))
        .select("_qid", "_vid", sim.alias("_sim"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("q_id"),
            "rank",
            F.col("_vid").alias("vec_id"),
            F.format_string("%.4f", F.col("_sim")).alias("cosine"),
        )
    )


EXACT_PAIRS_MAX_ROWS = 100_000  # guard for the O(n^2) exact-pair baseline


def exact_cosine_pairs(df: DataFrame, *, threshold: float = 0.3) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold — EXACT baseline.

    This is inherently O(n²) (a nested-loop join); it exists as the
    oracle-checkable reference for the LSH route. The guard refuses corpora
    above ``EXACT_PAIRS_MAX_ROWS`` so the baseline cannot be launched at a
    scale where the quadratic blow-up would run forever — use
    :func:`lsh_near_dup_pairs` there."""
    # Bounded probe: scans at most max_rows+1 ids, never the full corpus.
    max_rows = EXACT_PAIRS_MAX_ROWS
    n = df.select("vec_id").limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"exact_cosine_pairs is O(n^2); corpus exceeds max_rows={max_rows}. "
            "Use lsh_near_dup_pairs for large corpora."
        )
    a = df.select(F.col("vec_id").alias("id_a"), _vec_d("embedding").alias("_va"))
    b = df.select(F.col("vec_id").alias("id_b"), _vec_d("embedding").alias("_vb"))
    sim = _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.format_string("%.4f", F.col("_sim")).alias("cosine"))
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    portable_dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via LSH buckets + EXACT cosine re-rank (scale path).

    Each vector lands in its 8-plane signature bucket plus
    ``MULTIPROBE_FLIPS`` 1-bit-flip buckets; pairs co-bucketed anywhere are
    re-scored exactly. The shuffle carries (id, signature, vector) — no
    all-pairs join appears in the plan, and degenerate buckets are capped
    like the MinHash route. Approximate in recall (pairs never co-bucketed
    are missed), exact in the reported cosine values.

    ``portable_dim`` (oracle mode, analogous to the MinHash ``portable``
    flag): swaps only the SIGNATURE to the integer-exact portable variant
    (:func:`portable_lsh_signature`) so the DuckDB oracle can evaluate the
    whole pipeline — bucketing, multiprobe, caps, pairing, exact re-rank —
    verbatim. Bucket machinery and reported cosines are unchanged."""
    v = df.select(F.col(id_col).alias("_id"), _vec_d(vec_col).alias("_v"))
    if portable_dim is not None:
        sig = portable_lsh_signature(F.col("_v"), 8, portable_dim)
    else:
        sig = lsh_signature(F.col("_v"), 8)
    probes = F.array_distinct(
        F.array(
            sig,
            *[sig.bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(MULTIPROBE_FLIPS)],
        )
    )
    from data_check_spark.operators.dedup import _bucket_pairs

    exploded = v.select("_id", "_v", F.explode(probes).alias("_bucket"))
    pairs = _bucket_pairs(
        exploded, ["_bucket"], "_v",
        max_bucket=256, out_a="_va", out_b="_vb",
    )
    sim = _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb")))
    return (
        pairs.withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.format_string("%.4f", F.col("_sim")).alias("cosine"))
    )


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-flat ANN: k-means coarse quantizer → probe n_probe cells → exact
    cosine re-rank (the classic inverted-file index, complementing the LSH
    route).

    The quantizer trains with MLlib KMeans (distributed, deterministic for a
    seed 7, 5 iterations); every vector lands in ONE cell, queries probe their
    ``n_probe`` nearest centroids, and only probed cells are re-ranked
    exactly. The corpus-side shuffle carries (cell, id, vector) once;
    centroids travel as a broadcast literal (n_lists × dim doubles). Recall
    dial: ``n_probe``/``n_lists`` — at n_probe=n_lists this degrades to the
    exact scan."""
    assigned, centroids = build_ivf_index(vectors, n_lists=n_lists)
    return ivf_search(
        assigned, centroids, queries, k=k, n_probe=n_probe,
    )


def build_ivf_index(
    vectors: DataFrame,
    *,
    n_lists: int = 16,
) -> tuple[DataFrame, list[list[float]]]:
    """Train the IVF coarse quantizer once; returns (assigned, centroids).

    ``assigned`` is the (_vid, _vv, _cell) inverted file and ``centroids``
    the n_lists × dim list the probe step needs. Splitting build from
    search is how an index is actually used at scale — the corpus-side
    k-means + assignment pass runs ONCE, then any number of query batches
    probe it."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = vectors.select(F.col("vec_id").alias("_vid"), _vec_d("embedding").alias("_vv"))
    ml_df = v.withColumn("_feat", array_to_vector("_vv"))
    model = KMeans(k=n_lists, seed=7, maxIter=5, featuresCol="_feat").fit(ml_df)
    assigned = model.transform(ml_df).select("_vid", "_vv", F.col("prediction").alias("_cell"))
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    *,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a built IVF index: n_probe nearest centroids per query, exact
    cosine re-rank of only the probed cells (see :func:`ivf_ann_topk`)."""

    def _sq_dist(vec: Column, center: list[float]) -> Column:
        # ONE SQL array literal per centroid — element-wise F.lit in a loop
        # is a py4j round trip per element (CLAUDE.md), ~dim x n_lists round
        # trips per query build. 'D' suffix pins DOUBLE (bare decimals parse
        # as DECIMAL literals).
        c_arr = F.expr("array(" + ",".join(f"{float(x)!r}D" for x in center) + ")")
        return F.aggregate(
            F.zip_with(vec, c_arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    q = queries.select(F.col("q_id").alias("_qid"), _vec_d("q_vec").alias("_qv"))
    dists = F.array(
        *[
            F.struct(_sq_dist(F.col("_qv"), c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)
        ]
    )
    probes = q.select(
        "_qid", "_qv",
        F.explode(
            F.transform(F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"])
        ).alias("_cell"),
    )
    return _rerank_probed(assigned, probes, k)


def _plane_weight(plane: Column, dim_idx: Column) -> Column:
    """Deterministic pseudo-random hyperplane weight in [-1, 1)."""
    return (F.pmod(F.xxhash64(plane, dim_idx, F.lit("plane")), F.lit(2000)) - 1000) / 1000.0


# --- engine-portable signature (oracle mode) --------------------------------
# The default signature hashes per (plane, dim) with xxhash64, which DuckDB
# cannot evaluate. The portable variant is integer-exact end to end: the
# vector is quantized to longs (floor(x*SCALE + 0.5) — identical on any
# IEEE-754 engine), plane weights are a CONSTANT md5-derived integer table
# inlined as literals into both the Spark plan and the oracle SQL, and the
# sign test is a pure int64 dot product — no float summation-order hazard.
QUANT_SCALE = 1_000_000  # |x|<~2000 keeps 64-dim dot products inside int64


def portable_plane_table(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic integer plane weights in [-1000, 1000), shared verbatim
    by the Spark expression and the DuckDB oracle SQL (no RNG anywhere)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}:{i}:plane".encode()).hexdigest()[:15], 16) % 2000 - 1000
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def portable_lsh_signature(
    vec: Column, n_planes: int, dim: int, *, plane_offset: int = 0
) -> Column:
    """Integer-exact n-bit hyperplane signature (oracle-portable).

    ``vec`` must have exactly ``dim`` elements (zip_with null-pads
    otherwise and the sign test would be wrong, not just different).
    ``plane_offset`` selects an independent plane family, as in
    :func:`lsh_signature` (multi-table LSH uses offsets t*n_planes)."""
    weights = portable_plane_table(plane_offset + n_planes, dim)[plane_offset:]
    # ONE expression tree regardless of n_planes: the whole weight matrix is
    # a single SQL literal and the per-plane sign bits fold via nested HOFs.
    # Building per-plane trees with element-wise F.lit() cost one py4j round
    # trip per weight — measured ~8s of driver time for the 4-table ANN
    # query's 16x64 weights; this form builds in milliseconds and computes
    # the identical value (the oracle checks it).
    planes = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{w}L" for w in row) + ")" for row in weights
        ) + ")"
    )
    powers = F.expr("array(" + ",".join(f"{1 << p}L" for p in range(n_planes)) + ")")
    xq = F.transform(
        vec, lambda x: F.floor(x * F.lit(float(QUANT_SCALE)) + F.lit(0.5)).cast("long")
    )

    def _bit(wp: Column, pw: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(xq, wp, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return F.when(dot > 0, pw).otherwise(F.lit(0).cast("long"))

    return F.aggregate(
        F.zip_with(planes, powers, _bit),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def lsh_signature(vec: Column, n_planes: int = N_PLANES, *, plane_offset: int = 0) -> Column:
    """n-bit random-hyperplane signature as an int column.

    ``plane_offset`` selects an independent plane family — multi-table LSH
    uses offsets t*n_planes for table t."""
    def _weigh(plane: int):
        return lambda x, i: x * _plane_weight(F.lit(plane), i)

    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        dot = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.size(vec) - 1), _weigh(plane_offset + p)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(
            F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return sig


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    n_planes: int = N_PLANES,
    multiprobe: int = MULTIPROBE_FLIPS,
    n_tables: int = 1,
    portable_dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: LSH bucket candidates → exact cosine re-rank.

    Recall/latency dials: ``n_planes`` (bucket granularity), ``multiprobe``
    (how many 1-bit-flip buckets each query also probes), and ``n_tables``
    (independent plane families — candidate recall is 1-(1-p)^T for
    per-table hit rate p, the standard multi-table LSH amplification).
    Shorter signatures + more tables = higher recall on weakly-similar
    corpora; longer signatures = tighter buckets for near-identical ones.

    ``portable_dim`` (oracle mode): integer-exact signatures the DuckDB
    oracle evaluates verbatim — see :func:`portable_lsh_signature`."""
    def _one_sig(vec: Column, t: int) -> Column:
        if portable_dim is not None:
            return portable_lsh_signature(
                vec, n_planes, portable_dim, plane_offset=t * n_planes
            )
        return lsh_signature(vec, n_planes, plane_offset=t * n_planes)

    def _sigs(vec: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(t).alias("_table"),
                    _one_sig(vec, t).alias("_sig"),
                )
                for t in range(n_tables)
            ]
        )

    v = vectors.select(F.col("vec_id").alias("_vid"), _vec_d("embedding").alias("_vv"))
    v_sig = v.select(
        "_vid", "_vv", F.explode(_sigs(F.col("_vv"))).alias("_ts")
    ).select("_vid", "_vv", F.col("_ts._table").alias("_table"), F.col("_ts._sig").alias("_sig"))
    q = queries.select(F.col("q_id").alias("_qid"), _vec_d("q_vec").alias("_qv"))
    q_sig = q.select(
        "_qid", "_qv", F.explode(_sigs(F.col("_qv"))).alias("_ts")
    ).select("_qid", "_qv", F.col("_ts._table").alias("_table"), F.col("_ts._sig").alias("_sig"))
    probes = q_sig.select(
        "_qid", "_qv", "_table",
        F.explode(
            F.array_distinct(
                F.array(
                    F.col("_sig"),
                    *[
                        F.col("_sig").bitwiseXOR(F.lit(1 << p).cast("long"))
                        for p in range(multiprobe)
                    ],
                )
            )
        ).alias("_sig"),
    ) if multiprobe > 0 else q_sig

    cand = (
        v_sig.join(F.broadcast(probes), ["_table", "_sig"])
        .filter(F.col("_vid") != F.col("_qid"))
        .dropDuplicates(["_qid", "_vid"])
    )
    sim = _dot(F.col("_qv"), F.col("_vv")) / (_norm(F.col("_qv")) * _norm(F.col("_vv")))
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_vid"))
    return (
        cand.select("_qid", "_vid", sim.alias("_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("q_id"),
            "rank",
            F.col("_vid").alias("vec_id"),
            F.format_string("%.4f", F.col("_sim")).alias("cosine"),
        )
    )


def label_centroids(df: DataFrame) -> DataFrame:
    """Per-label embedding centroids, integer-exact: ``(label, pos, n_vecs,
    sum_q, centroid_q)`` with one row per (label, 1-based dimension).

    Elements quantize to ``floor(x·QUANT_SCALE + 0.5)`` bigints BEFORE summing, so
    the sum is exact int64 regardless of addend order (a float sum would
    differ across partitionings) and ``centroid_q = sum_q div n`` is
    engine-portable.

    Scale shape: ``posexplode`` looks like an n×dim row blow-up, but the
    groupBy's map-side partial aggregate collapses it to (labels × dim)
    partial rows per input partition before the exchange — the shuffle
    carries O(labels·dim·partitions) rows, never O(n·dim). NULL labels and
    NULL vectors are excluded (they have no centroid to contribute to)."""
    q = F.transform(
        _vec_d("embedding"),
        lambda x: F.floor(x * F.lit(float(QUANT_SCALE)) + F.lit(0.5)).cast("long"),
    )
    rows = (
        df.filter(F.col("label").isNotNull() & F.col("embedding").isNotNull())
        .select("label", F.posexplode(q).alias("pos0", "xq"))
    )
    return (
        rows.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("xq").alias("sum_q"))
        .withColumn("centroid_q", F.expr("sum_q div n_vecs"))
    )


def _rerank_probed(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Shared IVF tail: join probed cells, exact cosine re-rank, top-k.

    ``assigned`` carries (_vid, _vv, _cell); ``probes`` (_qid, _qv, _cell).
    The probe side is queries × n_probe rows — broadcast; the corpus side
    never shuffles beyond its cell partitioning."""
    cand = (
        assigned.join(F.broadcast(probes), "_cell")
        .filter(F.col("_vid") != F.col("_qid"))
        .dropDuplicates(["_qid", "_vid"])
    )
    sim = _dot(F.col("_qv"), F.col("_vv")) / (_norm(F.col("_qv")) * _norm(F.col("_vv")))
    w = Window.partitionBy("_qid").orderBy(F.desc("_sim"), F.asc("_vid"))
    return (
        cand.select("_qid", "_vid", sim.alias("_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("q_id"),
            "rank",
            F.col("_vid").alias("vec_id"),
            F.format_string("%.4f", F.col("_sim")).alias("cosine"),
        )
    )


def portable_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    n_lists: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-flat ANN with a DETERMINISTIC coarse quantizer — the
    oracle-portable sibling of :func:`ivf_ann_topk`.

    The k-means quantizer is the only piece of the IVF pipeline a second
    engine cannot replay (MLlib-internal init + float iteration order).
    This variant replaces it with a fully integer-exact build: the
    ``n_lists`` corpus vectors with the smallest ``md5(id)`` seed the
    cells, then ``lloyd_iters`` Lloyd refinements re-center each cell on
    the element-wise INTEGER mean of its members (exact decimal sums,
    division truncated toward zero — both engines agree bit-for-bit; a
    cell that loses all members is dropped, keeping surviving cell ids).
    Assignment and probe distances are integer-exact (``floor(x·1e6+0.5)``
    quantized squared distance, ties broken by cell index), so every
    routing decision replays identically in DuckDB; only the final cosine
    re-rank is float, same as the LSH-ANN oracle contract.

    Everything downstream — inverted file, n_probe cell fan-out, broadcast
    probe join, exact re-rank, top-k window — is shared verbatim with the
    KMeans variant via :func:`_rerank_probed`. Scale shape: centroid
    seeding is TakeOrderedAndProject (no global sort) + an n_lists-row
    collect; each Lloyd pass is one map-side-combined (cell, dim) sum —
    dim·n_lists rows to the driver, never vectors; the corpus shuffles
    once keyed by cell for the probe join.
    """
    if not 1 <= n_probe <= n_lists:
        raise ValueError(f"need 1 <= n_probe <= n_lists, got {n_probe}/{n_lists}")
    cents = portable_ivf_train(
        vectors,
        n_lists=n_lists, lloyd_iters=lloyd_iters,
    )
    assigned = portable_ivf_assign(vectors, cents)
    probes = (
        _int_cells_sorted(
            queries.select(
                F.col("q_id").alias("_qid"), _vec_d("q_vec").alias("_qv")
            ).withColumn("_xq", _int_quantize("_qv")),
            cents,
        )
        .select(
            "_qid", "_qv",
            F.explode(
                F.transform(
                    F.slice("_cells", 1, min(n_probe, len(cents))),
                    lambda s: s["cell"],
                )
            ).alias("_cell"),
        )
    )
    return _rerank_probed(assigned, probes, k)


def _int_quantize(vec_out: str) -> Column:
    """``floor(x·QUANT_SCALE + 0.5)`` as bigint — the integer-exact vector
    quantization every portable-IVF routing decision is computed in."""
    return F.transform(
        F.col(vec_out),
        lambda x: F.floor(x * F.lit(float(QUANT_SCALE)) + F.lit(0.5)).cast("long"),
    )


def _int_sq_dist_to(xq: Column, cq: list[int]) -> Column:
    # ONE SQL array literal per centroid (see _sq_dist above); 'L' pins LONG
    c_arr = F.expr("array(" + ",".join(f"{c}L" for c in cq) + ")")
    return F.aggregate(
        F.zip_with(xq, c_arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_cells_sorted(
    df: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """Add ``_cells``: (distance, cell) structs sorted ascending — ties
    break on cell index, identically in both engines."""
    dists = F.array(
        *[
            F.struct(
                _int_sq_dist_to(F.col("_xq"), cq).alias("d"),
                F.lit(cell).alias("cell"),
            )
            for cell, cq in cents
        ]
    )
    return df.withColumn("_cells", F.array_sort(dists))


def portable_ivf_train(
    vectors: DataFrame,
    *,
    n_lists: int = 16,
    lloyd_iters: int = 0,
) -> list[tuple[int, list[int]]]:
    """Deterministic coarse-quantizer training (the build half of
    :func:`portable_ivf_topk`, split out so an index can be trained once
    and maintained incrementally via :func:`ivf_add_batch`): md5-seeded
    cells + integer-exact Lloyd refinements. Returns the (cell_id,
    quantized centroid) list; cell ids stay stable across refinement and a
    cell that loses all members is dropped."""
    import math

    if lloyd_iters < 0:
        raise ValueError(f"lloyd_iters must be >= 0, got {lloyd_iters}")
    seed_rows = (
        vectors.select(F.col("vec_id").alias("_sid"), _vec_d("embedding").alias("_sv"))
        .orderBy(F.md5(F.col("_sid").cast("string")).asc(), F.col("_sid").asc())
        .limit(n_lists)
        .collect()
    )
    cents: list[tuple[int, list[int]]] = [
        (i, [int(math.floor(x * QUANT_SCALE + 0.5)) for x in r["_sv"]])
        for i, r in enumerate(seed_rows)
    ]
    v = vectors.select(
        F.col("vec_id").alias("_vid"), _vec_d("embedding").alias("_vv")
    ).withColumn("_xq", _int_quantize("_vv"))
    for _ in range(lloyd_iters):
        stats = (
            _int_cells_sorted(v, cents)
            .select(
                F.element_at("_cells", 1)["cell"].alias("_cell"),
                F.posexplode("_xq").alias("_i", "_x"),
            )
            .groupBy("_cell", "_i")
            .agg(
                F.sum(F.col("_x").cast("decimal(28,0)")).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in stats:
            s, n = int(r["_s"]), int(r["_n"])
            # truncate toward zero (Spark `div` == DuckDB `//` semantics)
            m = s // n if s >= 0 else -((-s) // n)
            by_cell.setdefault(r["_cell"], {})[r["_i"]] = m
        cents = [
            (cell, [dims[i] for i in sorted(dims)])
            for cell, dims in sorted(by_cell.items())
        ]
    return cents


def portable_ivf_assign(vectors: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Voronoi-assign vectors to FIXED centroids (integer-exact, ties by
    cell index) → the (_vid, _vv, _cell) inverted-file shape. Pure
    function of (vector, centroids): assigning a batch now or later gives
    identical cells — the property incremental maintenance rests on."""
    v = vectors.select(
        F.col("vec_id").alias("_vid"), _vec_d("embedding").alias("_vv")
    ).withColumn("_xq", _int_quantize("_vv"))
    return _int_cells_sorted(v, cents).select(
        "_vid", "_vv", F.element_at("_cells", 1)["cell"].alias("_cell")
    )


def save_portable_ivf_index(
    assigned: DataFrame, cents: list[tuple[int, list[int]]], path: str
) -> None:
    """Persist inverted file (partitioned by cell → probe-time partition
    pruning) + the quantized centroid table (tiny n_lists-row parquet)."""
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(f"{path}/cells")
    spark = assigned.sparkSession
    spark.createDataFrame(
        list(cents), "cell int, qcentroid array<bigint>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/qcentroids")


def load_portable_ivf_cents(spark, path: str) -> list[tuple[int, list[int]]]:
    """Read ONLY the quantized centroid table (n_lists rows) — the piece
    incremental maintenance needs. Deliberately does not touch the cell
    store: ``spark.read.parquet(cells)`` lists every ``_cell=N`` partition
    directory, a driver-side cost that grows with total store size."""
    rows = spark.read.parquet(f"{path}/qcentroids").orderBy("cell").collect()
    return [(int(r["cell"]), [int(x) for x in r["qcentroid"]]) for r in rows]


def load_portable_ivf_index(
    spark, path: str
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Inverse of :func:`save_portable_ivf_index`."""
    assigned = spark.read.parquet(f"{path}/cells")
    return assigned, load_portable_ivf_cents(spark, path)


def ivf_add_batch(spark, path: str, new_vectors: DataFrame) -> None:
    """Incremental IVF maintenance: assign an ARRIVING batch against the
    persisted coarse quantizer and append it to the inverted file — no
    retrain, no touch of existing cells' data (append goes only to the
    partitions the new vectors land in). Centroids stay fixed, the
    standard IVF maintenance contract (retraining is a separate, rarer
    rebuild); because assignment is a pure function of (vector, centroids),
    the store after N add-batches is row-identical to a single full
    assignment of the union — the equivalence the
    ``ivf_incremental_embeddings`` oracle checks value-for-value. Scale
    shape: the batch never joins the corpus; one scan of the batch + an
    n_lists-row centroid read (the cell store is never listed — its
    file count grows with corpus size, the batch doesn't)."""
    cents = load_portable_ivf_cents(spark, path)
    (
        portable_ivf_assign(new_vectors, cents)
        .write.mode("append")
        .partitionBy("_cell")
        .parquet(f"{path}/cells")
    )


def embedding_quality(
    df: DataFrame,
    *,
    expected_dim: int,
    normsq_q_lo: int,
    normsq_q_hi: int,
) -> DataFrame:
    """Per-row embedding QC rules — the validation-tier gate an embedding
    table passes before it is allowed into dedup/ANN/training.

    One violation row ``(id, rule_id, observed)`` per bad vector, first
    matching rule wins (checks are ordered so each row gets its most
    fundamental defect): NULL vector → ``EMB_NULL``; wrong dimensionality →
    ``EMB_DIM``; any NaN/±Inf element → ``EMB_NON_FINITE``; all-zero →
    ``EMB_ZERO``; quantized squared norm outside ``[normsq_q_lo,
    normsq_q_hi]`` → ``EMB_NORM_RANGE`` (catches double-normalized or
    unscaled vectors).

    Integer-exact and shuffle-free: norm² is computed over
    ``floor(x·1e6+0.5)`` int64 lanes (order-insensitive, identical in any
    engine), non-finite elements are excluded from the sum so the fold never
    touches NaN, and the whole operator is a single JVM projection + filter
    — at 10^12 rows it is a map-side scan with no exchange and no Python.
    """
    v = F.col("embedding")
    d = _vec_d("embedding")
    inf = F.lit(float("inf"))
    bad_elem = lambda x: F.isnan(x) | (F.abs(x) == inf)  # noqa: E731
    n_bad = F.size(F.filter(d, bad_elem))
    q = F.transform(
        F.filter(d, lambda x: ~bad_elem(x)),
        lambda x: F.floor(x * 1000000.0 + F.lit(0.5)).cast("bigint"),
    )
    normsq = F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x)
    dim = F.size(v)

    def _r(rule: str, observed: Column) -> Column:
        return F.struct(F.lit(rule).alias("rule_id"), observed.alias("observed"))

    rule = (
        F.when(v.isNull(), _r("EMB_NULL", F.lit("null")))
        .when(dim != expected_dim, _r("EMB_DIM", dim.cast("string")))
        .when(n_bad > 0, _r("EMB_NON_FINITE", n_bad.cast("string")))
        .when(normsq == 0, _r("EMB_ZERO", F.lit("zero")))
        .when(
            (normsq < normsq_q_lo) | (normsq > normsq_q_hi),
            _r("EMB_NORM_RANGE", normsq.cast("string")),
        )
    )
    return (
        df.select(F.col("vec_id"), rule.alias("_r"))
        .filter(F.col("_r").isNotNull())
        .select("vec_id", F.col("_r.rule_id"), F.col("_r.observed"))
    )


def dim_means(df: DataFrame) -> DataFrame:
    """Per-dimension quantized means: ``(pos, n_vecs, sum_q, mean_q)`` —
    :func:`label_centroids` without the label (same map-side-collapsed
    posexplode shape: the shuffle carries dim×partitions partial rows,
    never n×dim)."""
    q = F.transform(
        _vec_d("embedding"),
        lambda x: F.floor(x * F.lit(float(QUANT_SCALE)) + F.lit(0.5)).cast("long"),
    )
    rows = df.filter(F.col("embedding").isNotNull()).select(
        F.posexplode(q).alias("pos0", "xq")
    )
    return (
        rows.groupBy((F.col("pos0") + 1).alias("pos"))
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("xq").alias("sum_q"))
        .withColumn("mean_q", F.expr("sum_q div n_vecs"))
    )


def embedding_drift(current: DataFrame, baseline: DataFrame, *, threshold_q: int) -> DataFrame:
    """Per-dimension mean drift of an embedding column vs a baseline slice
    — the encoder-version tripwire: a silently swapped/retrained embedding
    model shifts per-dimension means immediately, long before any
    downstream metric notices. The drift family's member for the
    ``embeddings`` table (value drift = t-digest W1, category mix =
    cat_drift, rates/volumes = rate/volume_drift; this is direction-wise
    mean shift).

    One row per dimension present in either side: ``(pos, n_cur, n_base,
    mean_cur_q, mean_base_q, delta_q, drifted)`` with ``delta_q =
    mean_cur_q − mean_base_q`` in quantized (``QUANT_SCALE``) units and
    ``drifted = |delta_q| > threshold_q``. A side with no vectors for a
    dimension yields NULL means and NULL drifted (never a silent pass).
    Both inputs aggregate to dim-sized frames before the single tiny join
    — at 10^12 rows the only data-sized work is the two map-side-combined
    posexplode aggregations.
    """
    if threshold_q <= 0:
        raise ValueError(f"threshold_q must be positive, got {threshold_q}")
    cur = dim_means(current).select(
        "pos", F.col("n_vecs").alias("n_cur"), F.col("mean_q").alias("mean_cur_q")
    )
    base = dim_means(baseline).select(
        "pos", F.col("n_vecs").alias("n_base"), F.col("mean_q").alias("mean_base_q")
    )
    return (
        cur.join(base, "pos", "full_outer")
        .withColumn("n_cur", F.coalesce("n_cur", F.lit(0)))
        .withColumn("n_base", F.coalesce("n_base", F.lit(0)))
        .withColumn("delta_q", F.expr("mean_cur_q - mean_base_q"))
        .withColumn(
            "drifted",
            F.expr(
                f"CASE WHEN delta_q IS NULL THEN NULL"
                f" ELSE abs(delta_q) > {threshold_q} END"
            ),
        )
        .select(
            "pos", "n_cur", "n_base", "mean_cur_q", "mean_base_q", "delta_q", "drifted"
        )
    )


def quantization_plan(df: DataFrame) -> DataFrame:
    """Per-dimension int8 quantization plan for an embedding table.

    Serving/ANN infra stores embeddings as int8 with one symmetric scale
    per dimension; this computes that plan AND its cost — per dim: the
    absmax (the scale), the worst reconstruction error, and that error as
    ppm of the scale — so "is int8 safe for this encoder?" is a query, not
    a guess. A dimension whose err_ppm spikes after an encoder change is
    the re-quantize tripwire.

    Integer-exact cross-engine contract: values quantize to micro-units
    (``floor(x·QUANT_SCALE + 0.5)``, the portable-LSH convention), and the codec
    is defined on NON-NEGATIVE integers only — ``code = (2·|q|·L +
    absmax) div (2·absmax)``, ``recon = (2·code·absmax + L) div (2·L)``
    with ``L = 127`` — because integer division FLOORS in some
    engines and TRUNCATES in others for negative operands; keeping every
    numerator non-negative makes the two identical. NaN/±Inf elements are
    ignored like NULL.

    Output per dim: ``(dim, n_values, absmax_q, max_err_q, err_ppm)``.
    Scale shape: two passes over the exploded (dim, value) pairs — absmax
    must exist before errors can (same two-phase shape as drift's
    baseline); both are map-side-combined aggregates keyed by the ≤ d-row
    dim id, and the d-row absmax frame broadcasts back."""
    levels = 127
    d = F.col("_v").cast("double")
    # non-finite guard BEFORE the quantizing cast: under ANSI, floor(NaN·s)
    # cast to bigint aborts the job on one bad element
    fin = F.when(F.isnan(d) | (F.abs(d) == float("inf")), F.lit(None)).otherwise(d)
    pos = (
        df.filter(F.col("embedding").isNotNull())
        .select(F.posexplode("embedding").alias("dim", "_v"))
        .select(
            "dim",
            F.floor(fin * QUANT_SCALE + F.lit(0.5)).cast("bigint").alias("_q"),
        )
        .filter(F.col("_q").isNotNull())
    )
    absmax = pos.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.max(F.abs(F.col("_q"))).alias("absmax_q"),
    )
    joined = pos.join(F.broadcast(absmax.select("dim", "absmax_q")), "dim")
    aq = F.abs(F.col("_q"))
    code = F.expr(f"(2 * abs(_q) * {levels} + absmax_q) div (2 * absmax_q)")
    recon = F.expr(f"(2 * _code * absmax_q + {levels}) div (2 * {levels})")
    err = (
        joined.filter(F.col("absmax_q") > 0)
        .withColumn("_code", code)
        .withColumn("_err", F.abs(aq - recon))
        .groupBy("dim")
        .agg(F.max("_err").alias("max_err_q"))
    )
    return (
        absmax.join(err, "dim", "left")
        .select(
            "dim",
            "n_values",
            "absmax_q",
            F.coalesce(F.col("max_err_q"), F.lit(0)).alias("max_err_q"),
            F.when(
                F.col("absmax_q") > 0,
                F.expr(
                    "(coalesce(max_err_q, 0) * 1000000 + absmax_q div 2) div absmax_q"
                ),
            ).alias("err_ppm"),
        )
    )
