"""Snapshot diff: classification, NULL safety, collision safety, guards."""

import pytest

from data_check_spark.operators.diff import snapshot_diff


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, a string, b string")


def test_snapshot_diff_classification(spark):
    old = _df(spark, [(1, "x", "y"), (2, "x", "y"), (3, "x", "y"), (4, None, "y")])
    new = _df(spark, [(2, "x", "y"), (3, "X", "y"), (4, None, "y"), (5, "n", "n")])
    got = {r.k: r.change_type for r in
           snapshot_diff(old, new, key_cols=["k"], compare_cols=["a", "b"]).collect()}
    # 1 removed, 2 identical (absent), 3 changed, 4 identical-with-NULL
    # (absent), 5 added
    assert got == {1: "removed", 3: "changed", 5: "added"}


def test_snapshot_diff_null_position_matters(spark):
    # (NULL, "a") vs ("a", NULL) must classify as changed, not identical
    old = _df(spark, [(1, None, "a")])
    new = _df(spark, [(1, "a", None)])
    got = snapshot_diff(old, new, key_cols=["k"], compare_cols=["a", "b"]).collect()
    assert [(r.k, r.change_type) for r in got] == [(1, "changed")]


def test_snapshot_diff_concat_boundaries_matter(spark):
    # ("ab","c") vs ("a","bc") must differ — per-column hashing prevents
    # concatenation collisions
    old = _df(spark, [(1, "ab", "c")])
    new = _df(spark, [(1, "a", "bc")])
    got = snapshot_diff(old, new, key_cols=["k"], compare_cols=["a", "b"]).collect()
    assert [(r.k, r.change_type) for r in got] == [(1, "changed")]


def test_snapshot_diff_separator_in_value_not_a_collision(spark):
    # Values containing any would-be separator byte cannot collide:
    # ("a\x1fb", "c") vs ("a", "b\x1fc") are different tuples → changed.
    old = _df(spark, [(1, "a\x1fb", "c")])
    new = _df(spark, [(1, "a", "b\x1fc")])
    got = snapshot_diff(old, new, key_cols=["k"], compare_cols=["a", "b"]).collect()
    assert [(r.k, r.change_type) for r in got] == [(1, "changed")]


def test_snapshot_diff_literal_null_symbol_differs_from_null(spark):
    # A real value equal to U+2400 (SYMBOL FOR NULL) is not NULL.
    old = _df(spark, [(1, None, "y")])
    new = _df(spark, [(1, "␀", "y")])
    got = snapshot_diff(old, new, key_cols=["k"], compare_cols=["a", "b"]).collect()
    assert [(r.k, r.change_type) for r in got] == [(1, "changed")]


def test_snapshot_diff_null_key_matches_null_safely(spark):
    # An identical row under a NULL key is unchanged — not removed+added.
    old = _df(spark, [(None, "x", "y"), (1, "x", "y")])
    new = _df(spark, [(None, "x", "y"), (1, "x", "z")])
    got = {r.k: r.change_type for r in
           snapshot_diff(old, new, key_cols=["k"], compare_cols=["a", "b"]).collect()}
    assert got == {1: "changed"}
    # ...and a genuinely changed NULL-key row classifies once, as changed.
    new2 = _df(spark, [(None, "x", "Z"), (1, "x", "y")])
    got2 = {(r.k, r.change_type) for r in
            snapshot_diff(old, new2, key_cols=["k"], compare_cols=["a", "b"]).collect()}
    assert got2 == {(None, "changed")}


def test_snapshot_diff_duplicate_keys_detected(spark):
    dup = _df(spark, [(1, "v1", "y"), (1, "v2", "y")])
    clean = _df(spark, [(1, "v1", "y")])
    with pytest.raises(ValueError, match="duplicate key in old"):
        snapshot_diff(dup, clean, key_cols=["k"], compare_cols=["a", "b"])
    with pytest.raises(ValueError, match="duplicate key in new"):
        snapshot_diff(clean, dup, key_cols=["k"], compare_cols=["a", "b"])


def test_snapshot_diff_guards(spark):
    df = _df(spark, [(1, "x", "y")])
    with pytest.raises(ValueError):
        snapshot_diff(df, df, key_cols=[], compare_cols=["a"])
    with pytest.raises(ValueError):
        snapshot_diff(df, df, key_cols=["k"], compare_cols=["k", "a"])


def test_snapshot_diff_fingerprints_fold_before_join(spark):
    old = _df(spark, [(1, "x", "y")])
    new = _df(spark, [(1, "x", "y")])
    plan = (
        snapshot_diff(old, new, key_cols=["k"], compare_cols=["a", "b"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the md5 fingerprints are computed in Projects BELOW the join (each
    # side's exchange carries (key, fingerprint), never payload columns),
    # and no md5 evaluation remains above it: 2 per-column md5s + 1 outer
    # md5 per side = 6 total below the join
    head, _, below = plan.partition("Join")
    assert "md5" not in head and below.count("md5") == 6


def test_summary_regression(spark):
    from data_check_spark.operators.diff import summary_regression

    old = spark.createDataFrame(
        [("R1", 100), ("R2", 100), ("R3", 50), ("R4", 80)], "rule_id string, n long")
    new = spark.createDataFrame(
        [("R1", 104), ("R2", 300), ("R4", 40), ("R5", 7)], "rule_id string, n long")
    got = {r.rule_id: (r.n_old, r.n_new, r.delta_bp, r.status) for r in
           summary_regression(old, new, threshold_bp=2500).collect()}
    # R1: +4% = 400bp < 2500 -> quiet; R2: +200% -> moved; R3 gone; R4: -50%
    # -> moved (negative, truncating div toward zero); R5 new.
    assert got == {
        "R2": (100, 300, 20000, "moved"),
        "R3": (50, None, None, "gone"),
        "R4": (80, 40, -5000, "moved"),
        "R5": (None, 7, None, "new_rule"),
    }


def test_summary_regression_zero_old_count_still_reports(spark):
    # a PRESENT rule at count 0 that explodes must be 'moved', not dropped
    from data_check_spark.operators.diff import summary_regression

    old = spark.createDataFrame([("R9", 0), ("RQ", 0)], "rule_id string, n long")
    new = spark.createDataFrame([("R9", 50000), ("RQ", 0)], "rule_id string, n long")
    got = {r.rule_id: (r.n_old, r.n_new, r.delta_bp, r.status) for r in
           summary_regression(old, new).collect()}
    # delta vs greatest(old,1): 50000*10000/1
    assert got == {"R9": (0, 50000, 500000000, "moved")}  # RQ quiet


def test_summary_regression_duplicate_rule_ids_detected(spark):
    import pytest

    from data_check_spark.operators.diff import summary_regression

    dup = spark.createDataFrame([("R1", 10), ("R1", 10)], "rule_id string, n long")
    clean = spark.createDataFrame([("R1", 10)], "rule_id string, n long")
    with pytest.raises(ValueError, match="old summary"):
        summary_regression(dup, clean)
    with pytest.raises(ValueError, match="new summary"):
        summary_regression(clean, dup)
