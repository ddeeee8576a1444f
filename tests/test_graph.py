"""Connected components / dedup clusters over pair sets."""

import pytest
from pyspark.sql import functions as F

from data_check_spark.operators import graph
from data_check_spark.operators.graph import connected_components, dedup_clusters


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_two_components(spark):
    out = connected_components(_pairs(spark, [(1, 2), (2, 3), (10, 11)])).collect()
    comp = {r["node"]: r["component"] for r in out}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_multiple_rounds(spark):
    # path 0-1-2-...-9: min label must propagate 9 hops
    out = connected_components(_pairs(spark, [(i, i + 1) for i in range(9)])).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == 10


def test_edge_direction_irrelevant(spark):
    # pairs given "backwards" (bigger id first) still connect
    a = connected_components(_pairs(spark, [(5, 1), (3, 5)])).collect()
    assert {r["component"] for r in a} == {1}


def test_empty_pairs(spark):
    assert connected_components(_pairs(spark, [])).collect() == []


def test_max_iter_exceeded_raises(spark, monkeypatch):
    # diameter 4 cannot finish in 1 round (no small-graph budget forces the
    # distributed path this guard belongs to)
    monkeypatch.setattr(graph, "DEFAULT_MAX_ITER", 1)
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs(spark, [(i, i + 1) for i in range(4)]))


def test_small_graph_fast_path_matches_iterative(spark, monkeypatch):
    """The driver-side union-find fast path must be value-identical to the
    distributed min-label loop on the same graph — chains, triangles,
    singleton edges, reversed orderings, string ids."""
    cases = [
        [(1, 2), (2, 3), (10, 11)],
        [(i, i + 1) for i in range(9)],
        [(5, 1), (3, 5), (7, 8), (8, 7)],
        [(1, 2), (3, 4), (2, 3), (4, 1)],  # cycle
    ]
    # string node ids take the lexicographic minimum in both paths
    sp = spark.createDataFrame([("b", "a"), ("c", "b")], "id_a string, id_b string")
    frames = [_pairs(spark, edges) for edges in cases] + [sp]
    fast = [sorted(map(tuple, connected_components(df).collect())) for df in frames]
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_EDGES", 0)
    dist = [sorted(map(tuple, connected_components(df).collect())) for df in frames]
    assert fast == dist, cases
    assert fast[-1] == [("a", "a"), ("b", "a"), ("c", "a")]


def test_dedup_clusters_canonical_and_sizes(spark):
    out = dedup_clusters(_pairs(spark, [(1, 2), (2, 3), (10, 11)])).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["cluster_id"] == 1 and rows[1]["is_canonical"] == 1
    assert rows[3]["cluster_id"] == 1 and rows[3]["is_canonical"] == 0
    assert rows[1]["cluster_size"] == 3
    assert rows[10]["cluster_size"] == 2 and rows[11]["is_canonical"] == 0
    # exactly one canonical per cluster
    canon = [r for r in out if r["is_canonical"] == 1]
    assert {r["cluster_id"] for r in canon} == {1, 10} and len(canon) == 2


def test_triangle_plus_tail_converges_to_min(spark):
    pairs = _pairs(spark, [(7, 8), (8, 9), (9, 7), (9, 2)])
    out = connected_components(pairs).collect()
    assert {r["component"] for r in out} == {2}


def test_cc_plan_no_nested_loop(spark):
    """Label propagation is equi-joins end to end — a CartesianProduct /
    BroadcastNestedLoopJoin anywhere would be O(nodes x edges) at scale."""
    out = connected_components(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_null_ids_excluded_from_components(spark):
    """A NULL endpoint is not a node: no phantom (NULL, component) row."""
    from data_check_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(None, 5), (5, 6)], "id_a int, id_b int"
    )
    rows = connected_components(pairs).collect()
    assert all(r["node"] is not None for r in rows)
    assert {(r["node"], r["component"]) for r in rows} == {(5, 5), (6, 5)}


def test_select_representatives_keeps_best_quality(spark):
    from data_check_spark.operators.graph import select_representatives

    clusters = dedup_clusters(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    scored = spark.createDataFrame(
        # cluster {1,2,3}: doc 3 has the best score; cluster {10,11}: tie → min id
        [(1, 100), (2, 250), (3, 900), (10, 500), (11, 500)],
        "doc_id long, quality_q4 long",
    )
    out = select_representatives(clusters, scored).collect()
    kept = {r["doc_id"] for r in out if r["is_kept"] == 1}
    assert kept == {3, 10}
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[3]["cluster_id"] == 1 and by_id[3]["cluster_size"] == 3
    assert by_id[3]["quality_q4"] == 900
    # every member is reported, kept or not
    assert set(by_id) == {1, 2, 3, 10, 11}
    assert sum(r["is_kept"] for r in out) == 2
