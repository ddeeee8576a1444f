"""Sequence packing: distributed prefix sum vs brute force, edge cases,
and the no-global-window plan contract."""

import pytest
from pyspark.sql import functions as F

from data_check_spark.operators.packing import pack_assignments, pack_stats


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _brute(rows, budget):
    """Reference layout: cumulative offsets in id order, python ints."""
    out, before = {}, 0
    for doc_id, n in sorted(rows):
        pack_id = before // budget
        spans = 1 if n > 0 and (before + n - 1) // budget > pack_id else 0
        out[doc_id] = (n, pack_id, before % budget, spans)
        before += n
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    # 1000 docs, token counts 0..37 pseudo-randomly (id*7 % 38), including
    # exact-boundary hits; ids shuffled across 8 input partitions.
    rows = [(i, " ".join(["w"] * ((i * 7) % 38)) or "") for i in range(1000)]
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(8)


def test_pack_assignments_match_brute_force(corpus):
    budget = 64
    got = {
        r.doc_id: (r.n_tokens, r.pack_id, r.pack_offset, r.spans_boundary)
        for r in pack_assignments(corpus, budget=budget).collect()
    }
    want = _brute([(i, (i * 7) % 38) for i in range(1000)], budget)
    assert got == want
    assert sum(1 for v in got.values() if v[3]) > 5  # boundary spans exercised


def test_pack_assignments_null_and_blank_text(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "   "), (4, "d e")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.pack_id, r.pack_offset) for r in
           pack_assignments(df, budget=4).collect()}
    # doc2/doc3 occupy zero tokens at offset 3; doc4 starts there too
    assert got == {1: (3, 0, 0), 2: (0, 0, 3), 3: (0, 0, 3), 4: (2, 0, 3)}


def test_pack_stats(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j"), (3, "k l")], "doc_id long, text string"
    )
    assign = pack_assignments(df, budget=8)
    got = {r.pack_id: (r.n_docs, r.n_tokens_started, r.n_spanning, r.fill_bp)
           for r in pack_stats(assign, budget=8).collect()}
    assert got == {0: (2, 10, 1, 10000), 1: (1, 2, 0, 2500)}


def test_no_global_single_partition_window(corpus):
    plan = _plan(pack_assignments(corpus, budget=64))
    # the running sum windows are keyed per range partition, so the plan
    # must never fall back to Exchange SinglePartition (the global-window
    # bottleneck this operator exists to avoid)
    # (the range split itself sits behind the localCheckpoint, so the final
    # plan reads Scan ExistingRDD — assert on the per-partition window key)
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(_pid" in plan.lower()


def test_budget_guard(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        pack_assignments(df, budget=0)
