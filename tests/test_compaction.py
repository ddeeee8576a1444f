"""Storage-layout ops: compaction planning."""

import pytest

from data_check_spark.operators.compaction import (
    compaction_plan,
    compaction_summary,
)


def _plan_rows(spark, rows, **kw):
    df = spark.createDataFrame(rows, "part_dir string, file_name string, file_size long")
    out = compaction_plan(df, **kw)
    return {(r["part_dir"], r["file_name"]): (r["action"], r["group_id"])
            for r in out.collect()}, out


def test_compaction_plan_grouping_and_keeps(spark):
    rows = [
        # p0: three smalls fill group 0 exactly at 100 then b starts group 1
        ("p0", "a", 40), ("p0", "b", 40), ("p0", "c", 30),
        ("p0", "big", 500),               # >= small threshold (50): keep
        ("p1", "only", 10),               # single small file still merges
        ("p2", "huge", 1000),             # all-keep dir: no groups
    ]
    got, _ = _plan_rows(spark, rows, target_bytes=100)
    assert got[("p0", "a")] == ("merge", 0)      # before=0
    assert got[("p0", "b")] == ("merge", 0)      # before=40
    assert got[("p0", "c")] == ("merge", 0)      # before=80 (straddles, ok)
    assert got[("p0", "big")] == ("keep", None)  # excluded from cumsum too
    assert got[("p1", "only")] == ("merge", 0)
    assert got[("p2", "huge")] == ("keep", None)
    # after c (before=80+30=110) a new small file would start group 1
    rows.append(("p0", "d", 20))
    got2, _ = _plan_rows(spark, rows, target_bytes=100)
    assert got2[("p0", "d")] == ("merge", 1)


def test_compaction_plan_deterministic_across_partitionings(spark):
    rows = [("p0", f"f{i:03d}", 10 + i) for i in range(50)]
    df1 = spark.createDataFrame(rows, "part_dir string, file_name string, file_size long")
    a = sorted(map(tuple, compaction_plan(df1, target_bytes=64).collect()))
    b = sorted(map(tuple, compaction_plan(df1.repartition(7), target_bytes=64).collect()))
    assert a == b


def test_compaction_summary_math(spark):
    rows = [
        ("p0", "a", 40), ("p0", "b", 40), ("p0", "c", 30),
        ("p0", "big", 500), ("p0", "d", 20),
        ("p2", "huge", 1000),
    ]
    df = spark.createDataFrame(rows, "part_dir string, file_name string, file_size long")
    plan = compaction_plan(df, target_bytes=100)
    got = {r["part_dir"]: r.asDict() for r in compaction_summary(plan).collect()}
    assert got["p0"]["n_files"] == 5
    assert got["p0"]["n_small"] == 4
    assert got["p0"]["bytes_small"] == 130
    assert got["p0"]["n_groups"] == 2
    assert got["p0"]["n_files_after"] == 3  # big + 2 merged outputs
    assert got["p2"] == {"part_dir": "p2", "n_files": 1, "n_small": 0,
                         "bytes_small": 0, "n_groups": 0, "n_files_after": 1}


def test_compaction_plan_guards(spark):
    df = spark.createDataFrame([("p0", "a", 1)],
                               "part_dir string, file_name string, file_size long")
    with pytest.raises(ValueError, match="target_bytes"):
        compaction_plan(df, target_bytes=0)
