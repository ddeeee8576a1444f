"""Per-rule unit tests with inline row fixtures.

Mirrors the reference's test strategy: a parameter table of
(input, expect_violation, note) per rule, with mandatory NULL/NaN/""/
whitespace/full-width rows (reference: tests/test_chk_0005.py:8-23,
tests/test_chk_0008.py:11-20)."""

import os

import pytest

from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
from data_check_spark.rules.spec import Rule


def _violations(spark, rows, rules, run_ts=None):
    df = spark.createDataFrame(rows, "clip_id string, val string, num int, partition string")
    compiled = compile_row_rules(rules, run_ts)
    out = apply_row_rules(df, compiled)
    return {(r["rule_id"], r["clip_id"]) for r in out.collect()}


NOT_NULL_CASES = [
    ("a", None, True, "NULL violates"),
    ("b", "", True, "empty violates"),
    ("c", "   ", True, "whitespace violates"),
    ("d", "　　", True, "full-width space violates"),
    ("e", " \t\r\n ", True, "mixed whitespace violates"),
    ("f", "x", False, "value passes"),
    ("g", " x ", False, "padded value passes"),
    ("h", "０", False, "full-width zero is a value"),
]


def test_not_null(spark):
    rows = [(cid, v, 0, "p0") for cid, v, _, _ in NOT_NULL_CASES]
    got = _violations(spark, rows, [Rule("R", "not_null", "val")])
    want = {("R", cid) for cid, _, exp, _ in NOT_NULL_CASES if exp}
    assert got == want


FORMAT_CASES = [
    ("a", "clip_0123456789abcdef", False, "canonical"),
    ("b", "clip_0123456789ABCDEF", True, "uppercase hex"),
    ("c", "clip_0123", True, "too short"),
    ("d", "0123456789abcdef", True, "missing prefix"),
    ("e", None, False, "blank-exempt"),
    ("f", "", False, "blank-exempt"),
    ("g", "clip_0123456789abcdef ", True, "trailing space"),
]


def test_format(spark):
    rows = [(cid, v, 0, "p0") for cid, v, _, _ in FORMAT_CASES]
    got = _violations(spark, rows, [Rule("R", "format", "val", {"pattern": r"^clip_[0-9a-f]{16}$"})])
    want = {("R", cid) for cid, _, exp, _ in FORMAT_CASES if exp}
    assert got == want


def test_forbidden_substring(spark):
    # analog of the reference's marker-symbol checks (constants.py:138-151)
    cases = [
        ("a", "★重要", True), ("b", "normal", False), ("c", "×印", True),
        ("d", None, False), ("e", "", False), ("f", "中に×あり", True),
    ]
    rows = [(cid, v, 0, "p0") for cid, v, _ in cases]
    got = _violations(spark, rows, [Rule("R", "forbidden_substring", "val", {"any_of": ["★", "×"]})])
    assert got == {("R", cid) for cid, _, exp in cases if exp}


def test_forbidden_substring_normalized(spark):
    # width/case normalization (reference: cloud.py:601-612 lower+strip spaces)
    cases = [("a", "NP 不可", True), ("b", "np不可", True), ("c", "OK", False)]
    rows = [(cid, v, 0, "p0") for cid, v, _ in cases]
    got = _violations(
        spark, rows,
        [Rule("R", "forbidden_substring", "val", {"any_of": ["np不可"], "normalize": True})],
    )
    assert got == {("R", cid) for cid, _, exp in cases if exp}


def test_value_in_set(spark):
    cases = [("a", "flac", False), ("b", "FLAC", True), ("c", "wav?", True), ("d", None, False), ("e", "", False)]
    rows = [(cid, v, 0, "p0") for cid, v, _ in cases]
    got = _violations(spark, rows, [Rule("R", "value_in_set", "val", {"allowed": ["flac", "opus"]})])
    assert got == {("R", cid) for cid, _, exp in cases if exp}


def test_value_in_set_case_insensitive(spark):
    rows = [("a", "FLAC", 0, "p0"), ("b", "xyz", 0, "p0")]
    got = _violations(
        spark, rows,
        [Rule("R", "value_in_set", "val", {"allowed": ["flac"], "case_sensitive": False})],
    )
    assert got == {("R", "b")}


def test_range(spark):
    cases = [("a", 0, True), ("b", 1, False), ("c", 3_600_000, False), ("d", 3_600_001, True), ("e", None, False), ("f", -5, True)]
    rows = [(cid, "x", n, "p0") for cid, n, _ in cases]
    got = _violations(spark, rows, [Rule("R", "range", "num", {"min": 1, "max": 3_600_000})])
    assert got == {("R", cid) for cid, n, exp in cases if exp}


def test_range_null_violates(spark):
    rows = [("a", "x", None, "p0"), ("b", "x", 5, "p0")]
    got = _violations(spark, rows, [Rule("R", "range", "num", {"min": 1, "null_violates": True})])
    assert got == {("R", "a")}


def test_length(spark):
    cases = [("a", "12345678", False), ("b", "1234", True), ("c", "123456789", True), ("d", None, False)]
    rows = [(cid, v, 0, "p0") for cid, v, _ in cases]
    got = _violations(spark, rows, [Rule("R", "length", "val", {"exact": 8})])
    assert got == {("R", cid) for cid, _, exp in cases if exp}


def test_cross_column_xor(spark):
    # XOR family: flag set iff prefix matches (reference: CHK_0001 dekispart.py:123-130)
    cases = [
        ("012abc", "LAN", False), ("999abc", "LAN", True),
        ("012abc", "OTHER", True), ("999abc", "OTHER", False),
    ]
    rows = [(cid, v, 0, "p0") for cid, v, _ in cases]
    rule = Rule("R", "cross_column", None,
                {"expr": "(val = 'LAN') != startswith(clip_id, '012')"})
    got = _violations(spark, rows, [rule])
    assert got == {("R", cid) for cid, _, exp in cases if exp}


def test_cross_column_run_ts(spark):
    rows = [("a", "2030-01-01", 0, "p0"), ("b", "2000-01-01", 0, "p0"), ("c", None, 0, "p0")]
    rule = Rule("R", "cross_column", None,
                {"expr": "val IS NOT NULL AND to_timestamp(val) > {run_ts}"})
    got = _violations(spark, rows, [rule], run_ts="2026-08-16 00:00:00")
    assert got == {("R", "a")}


def test_run_ts_required(spark):
    rule = Rule("R", "cross_column", None, {"expr": "val > {run_ts}"})
    with pytest.raises(ValueError, match="run_ts"):
        compile_row_rules([rule], None)


def test_gate(spark):
    # gate=False/NULL rows never violate even if the predicate holds
    cases = [("a", None, 1, True), ("b", None, 0, False), ("c", None, None, False), ("d", "x", 1, False)]
    rows = [(cid, v, g, "p0") for cid, v, g, _ in cases]
    got = _violations(spark, rows, [Rule("R", "not_null", "val", gate="num = 1")])
    assert got == {("R", cid) for cid, _, _, exp in cases if exp}


def test_single_pass_multi_rule(spark):
    # one row can emit several rule hits from the same scan
    rows = [("a", None, -1, "p0")]
    got = _violations(spark, rows, [
        Rule("R1", "not_null", "val"),
        Rule("R2", "range", "num", {"min": 0}),
    ])
    assert got == {("R1", "a"), ("R2", "a")}


def test_observed_column(spark):
    df = spark.createDataFrame([("a", "badval", 0, "p0")], "clip_id string, val string, num int, partition string")
    out = apply_row_rules(df, compile_row_rules([Rule("R", "value_in_set", "val", {"allowed": ["good"]})]))
    row = out.collect()[0]
    assert row["observed"] == "badval"
    assert row["partition"] == "p0"


def test_shipped_rules_json_matches_catalog():
    """rules/audio_rules.json is the serialized default catalog (rules ship
    as data for spark-submit --files, reference: check_definitions.json)."""
    from data_check_spark.rules.catalog_audio import audio_catalog
    from data_check_spark.rules.spec import load_catalog

    shipped = load_catalog(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "rules", "audio_rules.json")
    )
    default = audio_catalog()
    assert [r.to_dict() for r in shipped] == [r.to_dict() for r in default]


def test_multi_column_per_field_emission(spark):
    """multi_column emits one violation per matching FIELD (CLOUD 0006)."""
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.spec import Rule

    df = spark.createDataFrame(
        [("a", 1, 9, "p"), ("b", 9, 9, "p"), ("c", 1, 1, "p")],
        "clip_id string, x int, y int, partition string",
    )
    rule = Rule("MC", "multi_column", None,
                {"columns": ["x", "y"], "expr": "`{col}` > 5"})
    out = apply_row_rules(df, compile_row_rules([rule])).collect()
    got = sorted((r["clip_id"], r["observed"]) for r in out)
    assert got == [("a", "y=9"), ("b", "x=9"), ("b", "y=9")]


def test_multi_column_gate(spark):
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.spec import Rule

    df = spark.createDataFrame(
        [("a", 9, True, "p"), ("b", 9, False, "p")],
        "clip_id string, x int, active boolean, partition string",
    )
    rule = Rule("MCG", "multi_column", None,
                {"columns": ["x"], "expr": "`{col}` > 5"}, gate="active")
    out = apply_row_rules(df, compile_row_rules([rule])).collect()
    assert [r["clip_id"] for r in out] == ["a"]


def test_multi_column_gate_run_ts(spark):
    """{run_ts} expands in multi_column gates and exprs (shared helper)."""
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.spec import Rule

    df = spark.createDataFrame(
        [("a", 9, "2001-01-01 00:00:00"), ("b", 9, "2002-01-01 00:00:00")],
        "clip_id string, x int, seen string",
    )
    df = df.withColumn("seen", df["seen"].cast("timestamp"))
    rule = Rule("MCTS", "multi_column", None,
                {"columns": ["x"], "expr": "`{col}` > 5"},
                gate="seen < {run_ts}")
    out = apply_row_rules(
        df, compile_row_rules([rule], run_ts="2001-06-01 00:00:00"),
        partition_col=None,
    ).collect()
    assert [r["clip_id"] for r in out] == ["a"]


def test_date_parse_escalation(spark):
    """date_parse: unparseable non-blank -> <RULE>_PARSE_ERROR; parsed value
    checked by the primary rule; blank exempt from both."""
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.spec import Rule

    df = spark.createDataFrame(
        [("ok_past", "2000-01-01"), ("ok_future", "2030-01-01"),
         ("bad", "not-a-date"), ("blank", "  "), ("nul", None)],
        "clip_id string, d string",
    )
    rule = Rule("D_SANE", "date_parse", "d",
                {"format": "yyyy-MM-dd", "expr": "{parsed} > {run_ts}"})
    out = apply_row_rules(
        df, compile_row_rules([rule], run_ts="2001-06-01 00:00:00"),
        partition_col=None,
    ).collect()
    got = sorted((r["rule_id"], r["clip_id"]) for r in out)
    assert got == [("D_SANE", "ok_future"), ("D_SANE_PARSE_ERROR", "bad")]


def test_date_parse_rule_id_override_and_gate(spark):
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.spec import Rule

    df = spark.createDataFrame(
        [("a", "junk", True), ("b", "junk", False)],
        "clip_id string, d string, active boolean",
    )
    rule = Rule("D2", "date_parse", "d",
                {"format": "yyyy-MM-dd", "parse_rule_id": "D2_BADDATE"},
                gate="active")
    out = apply_row_rules(df, compile_row_rules([rule]), partition_col=None).collect()
    assert [(r["rule_id"], r["clip_id"]) for r in out] == [("D2_BADDATE", "a")]


def test_format_is_full_match(spark):
    """spec: 'value must fully match pattern' — a value merely CONTAINING a
    match must still violate (rlike alone is a find, not a match)."""
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.spec import Rule

    df = spark.createDataFrame(
        [("ok", "clip_0123456789abcdef", "p"),
         ("bad", "xx clip_0123456789abcdef yy", "p")],
        "clip_id string, val string, partition string",
    )
    rules = compile_row_rules([
        Rule("FMT", "format", "val", {"pattern": r"clip_[0-9a-f]{16}"}),
    ])
    got = {r["clip_id"] for r in apply_row_rules(df, rules).collect()}
    assert got == {"bad"}


def test_misconfigured_rules_raise(spark):
    """Empty any_of / empty length params are config errors, not silent
    flag-everything or IndexError."""
    import pytest

    from data_check_spark.rules.compiler import compile_rule
    from data_check_spark.rules.spec import Rule

    with pytest.raises(ValueError, match="any_of"):
        compile_rule(Rule("F1", "forbidden_substring", "c", {"any_of": []}))
    with pytest.raises(ValueError, match="length rule"):
        compile_rule(Rule("L1", "length", "c", {}))


@pytest.mark.parametrize("severity", ["warn", "Warning", "info", ""])
def test_unknown_severity_is_rejected_at_load(severity):
    """Only "warning" spares a partition; a misspelt severity must fail the
    catalog load, not silently count as an error."""
    from data_check_spark.rules.spec import load_catalog

    rule = {"rule_id": "SR_WARN", "kind": "not_null", "column": "sr_hz", "severity": severity}
    with pytest.raises(ValueError, match="SR_WARN"):
        load_catalog([rule])
    assert load_catalog([{**rule, "severity": "warning"}]).get("SR_WARN").severity == "warning"


def test_every_rule_kind_round_trips_through_json(tmp_path):
    """Rules ship as data (--files rules.json): every registered kind must
    survive to_json -> load_catalog unchanged — a kind that only works when
    constructed in Python is not deployable."""
    import json

    from data_check_spark.rules.spec import (
        ROW_LOCAL_KINDS,
        SET_KINDS,
        Rule,
        RuleCatalog,
        load_catalog,
    )

    params_by_kind = {
        "format": {"pattern": "^x$"},
        "forbidden_substring": {"any_of": ["bad"]},
        "value_in_set": {"allowed": ["a"]},
        "range": {"min": 0, "max": 1},
        "length": {"min": 1, "max": 3},
        "cross_column": {"expr": "a > b"},
        "multi_column": {"columns": ["a", "b"], "template": "{col} IS NULL"},
        "date_parse": {"format": "yyyy-MM-dd"},
        "agg_threshold": {"metric_expr": "count_if(a IS NULL) * 1000000 div count(1)",
                          "max_value": 1000},
        "referential": {"dim": "d", "dim_key": "k", "mode": "anti"},
        "drift": {"threshold": 0.25},
        "cat_drift": {"threshold_bp": 2500},
        "rate_drift": {"predicate": "a IS NULL"},
        "volume_drift": {"threshold_bp": 5000},
        "audio_decode": {"snr_db_min": 30.0, "cap_ms": 50},
        "transcript_match": {"dim": "d", "dim_key": "k"},
        "transcript_wer": {"dim": "d", "dim_key": "k", "max_wer_bp": 1500},
        "func_dep": {"determinant": ["a"]},
        "outlier": {"group_by": "g"},
        "reconcile": {"dim": "d", "dim_key": "k", "amount_col": "amt"},
        "cardinality": {"dim": "d", "dim_key": "k", "fact_key": "f",
                        "min_children": 1, "max_children": 1},
    }
    rules = [
        Rule(f"R_{i}", kind, "col", params_by_kind.get(kind, {}),
             gate="col IS NOT NULL", severity="warning", name=f"n{i}")
        for i, kind in enumerate(sorted(ROW_LOCAL_KINDS | SET_KINDS))
    ]
    cat = RuleCatalog(rules)
    path = str(tmp_path / "rules.json")
    cat.save(path)
    loaded = load_catalog(path)
    assert [r.to_dict() for r in loaded] == [r.to_dict() for r in cat]
    # and the file itself is plain JSON a deployment tool can lint
    assert len(json.load(open(path))) == len(rules)
    # and the engine knows how to run every set-oriented kind the spec names
    from data_check_spark.engine import SET_RULE_KINDS

    assert set(SET_RULE_KINDS) == SET_KINDS


def test_corpus_catalog_on_documents_shape(spark):
    """The shipped corpus catalog compiles through the same engine and flags
    each planted failure exactly once."""
    from data_check_spark.rules.catalog_corpus import corpus_catalog
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules

    rows = [
        (1, "x" * 100, "en", "src1", 100),     # clean
        (2, None, "en", "src2", 100),          # TEXT_NOT_NULL
        (3, "y" * 30, "en", "src3", 30),       # TEXT_MIN_CHARS
        (4, "z" * 100, "zz", "src4", 100),     # LANG_WHITELIST
        (5, "w" * 100, "en", "feed-9", 100),   # SOURCE_FORMAT
        (6, "v" * 100, "en", "src6", 99),      # CHARS_CONSISTENT
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    compiled = compile_row_rules(corpus_catalog().rules)
    out = apply_row_rules(df, compiled, id_col="doc_id", partition_col="lang")
    got = {(r["rule_id"], r["clip_id"]) for r in out.collect()}
    assert got == {
        ("TEXT_NOT_NULL", "2"),
        ("TEXT_MIN_CHARS", "3"),
        ("LANG_WHITELIST", "4"),
        ("SOURCE_FORMAT", "5"),
        ("CHARS_CONSISTENT", "6"),
    }
    # JSON round-trip (same contract as the audio catalog artifact)
    import json

    from data_check_spark.rules.spec import load_catalog

    cat = corpus_catalog()
    assert load_catalog(json.loads(cat.to_json())).to_json() == cat.to_json()
