"""Connected components over near-duplicate pair sets.

The missing last step of a dedup pipeline: pair emitters (exact fingerprint
groups, MinHash/SimHash/LSH buckets, n-gram Jaccard — operators/dedup.py)
produce EDGES, but "keep one copy per duplicate cluster" needs the
transitive closure — A~B and B~C must land A, B, C in one cluster even
though (A, C) was never emitted as a pair. Reference analog: the per-series
duplicate-set checks (CHK_0008 family) stop at pair/key grain; this extends
them to cluster grain for corpus curation.

Algorithm: iterative min-label propagation on the undirected pair graph —
every node starts labeled with itself; each round takes the min of its own
and its neighbors' labels; fixpoint = every node carries its component's
minimum id (the deterministic canonical representative).

Scale shape (the reason this is iterative DataFrame joins, not a collect):

* The working set is one row per node THAT APPEARS IN A PAIR plus the edge
  list — at 100 TB corpus scale this is the near-dup subset, orders of
  magnitude smaller than the corpus; the heavy lifting (pair generation)
  already happened upstream in the bucketed emitters.
* Rounds needed = graph diameter. Near-dup clusters are dense and shallow
  (diameter ≤ 3-4 in practice), so 5-10 rounds; ``max_iter`` guards
  adversarial chains. Each round is ONE shuffle join + ONE groupBy on the
  (node, label) frame — both keyed by node id, so AQE coalesces them.
* Every round ends in an eager ``localCheckpoint``: without it the plan
  doubles per iteration (Spark recompiles the whole lineage), which is the
  classic iterative-algorithm failure mode; with it each round's input is a
  materialized frame (CLAUDE.md: localCheckpoint, not persist, keeps AQE).
* Convergence check is a count on the already-materialized frame — O(nodes
  in pairs) rows, no recomputation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_MAX_ITER = 30

# Below this many (deduplicated, directed) edges the transitive closure runs
# as driver-side union-find instead of iterative joins: each distributed
# round costs ~2 fixed-latency jobs regardless of size, so a 2k-edge graph
# paid ~4.5s of pure scheduling for microseconds of actual work (measured
# on an embedding near-dup graph at sf0.1: clusters 6.2s vs pairs 1.65s).
# 100k edges collect as PySpark Row objects — ~tens of MB of CPython
# objects, safely inside driver headroom even beside a pinned engine heap
# (this host charges heavily for first-touch allocation, CLAUDE.md) — while
# bigger near-dup graphs keep the all-distributed path.
SMALL_GRAPH_MAX_EDGES = 100_000


def _unionfind_components(edges: DataFrame) -> DataFrame:
    """Driver-side min-label components for small graphs (value-identical
    to the iterative path: union-by-min keeps each set's root at its
    minimum id, the same canonical label min-propagation converges to)."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        s, d = r["src"], r["dst"]
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    node_type = edges.schema["src"].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", node_type), StructField("component", node_type)]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, component) for every node in ``pairs`` (columns ``id_a``,
    ``id_b``); ``component`` is the smallest node id reachable via pair
    edges (deterministic canonical id).

    Graphs at or below ``SMALL_GRAPH_MAX_EDGES`` edges run driver-side
    union-find (identical output, none of the per-round job latency).

    Raises ``RuntimeError`` if ``DEFAULT_MAX_ITER`` rounds don't reach the fixpoint
    (component labels would be incomplete — fail loudly, never silently)."""
    # NULL ids can't be graph nodes: a NULL src would adopt its neighbor's
    # label and emit a phantom (NULL, component) member that inflates
    # cluster sizes downstream.
    p = pairs.filter(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
    edges = (
        p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(p.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every round — cut the upstream plan once
    )
    if edges.count() <= SMALL_GRAPH_MAX_EDGES:
        # the count is over already-materialized checkpoint blocks — cheap
        return _unionfind_components(edges)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    max_iter = DEFAULT_MAX_ITER
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("_nbr"))
        )
        # Each round's eager checkpoint supersedes the previous one; the old
        # round's blocks are freed by the ContextCleaner once the Python
        # reference drops (the `labels =` reassignment below) — PySpark has
        # no direct unpersist handle for localCheckpoint block storage, so
        # peak storage is O(rounds-before-GC) label frames, each just
        # (node, label) pairs — far smaller than the pair set itself.
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("_nbr"), F.col("label"))).alias("label"),
                (F.col("_nbr") < F.col("label")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels.select(F.col("node"), F.col("label").alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Cluster view of a near-dup pair set: one row per clustered doc —
    (doc_id, cluster_id, cluster_size, is_canonical) where cluster_id is the
    min doc id of the component and is_canonical=1 marks the kept copy
    (first-wins, matching exact_duplicate_groups' keep rule)."""
    cc = connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).cast("int").alias("is_canonical"),
        )
    )


def select_representatives(clusters: DataFrame, scored: DataFrame) -> DataFrame:
    """Best-copy selection per duplicate cluster: ``is_kept = 1`` for the
    member with the highest score, ties broken by smallest id.

    ``dedup_clusters`` keeps first-wins (min id) — the reference's keep rule
    for exact duplicates (dekispart.py duplicate-set precompute keeps the
    first occurrence). Curation pipelines usually want the BEST copy instead:
    the cleanest / longest extraction of a near-duplicate web page often
    arrives with a later id, so the kept copy should be chosen by a quality
    signal (``text.quality_score``), not arrival order.

    Plan shape: ``clusters`` holds only docs that appear in a near-dup pair —
    orders of magnitude smaller than the corpus — so the score join and the
    ONE window keyed by ``cluster_id`` operate on the near-dup subset only;
    window partitions are cluster-sized (bounded by the pair emitters' bucket
    caps upstream), never corpus-sized.
    """
    w = Window.partitionBy("cluster_id").orderBy(F.col("quality_q4").desc(), F.col("doc_id"))
    joined = clusters.join(scored.select(F.col("doc_id"), F.col("quality_q4")), "doc_id")
    return joined.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "quality_q4",
        (F.row_number().over(w) == 1).cast("int").alias("is_kept"),
    )
