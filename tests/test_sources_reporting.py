"""xlsx source, reporting ops, pre-flight rules."""

import pytest
from pyspark.sql import functions as F

from data_check_spark.engine import run_validation
from data_check_spark.reporting import (
    export_csv,
    filter_violations,
    sort_numeric_coerced,
    with_messages,
)
from data_check_spark.rules.spec import Rule, RuleCatalog
from data_check_spark.sources.xlsx import read_xlsx_df

CAT = RuleCatalog([
    Rule("X_NOT_NULL", "not_null", "clip_id", name="id required",
         message="IDは必須です"),
    Rule("X_FK", "referential", "clip_id",
         {"dim": "transcripts", "dim_key": "clip_id", "mode": "anti"}),
])


def _clips(spark, rows):
    return spark.createDataFrame(
        rows, "clip_id string, sr_hz int, dur_ms int, codec string, transcript string, partition string"
    )


# --- reporting -------------------------------------------------------------

@pytest.fixture(scope="module")
def viol(spark):
    rows = [
        ("A", "R1", "10", "p0", "obs one"),
        ("A", "R2", "2", "p0", "Observation TWO"),
        ("B", "R1", "x9", "p1", "three"),
        ("B", "R3", None, "p1", "FOUR"),
    ]
    return spark.createDataFrame(rows, "series string, rule_id string, clip_id string, partition string, observed string")


def test_filter_and_search(viol):
    got = filter_violations(viol, search="two").collect()
    assert len(got) == 1 and got[0]["rule_id"] == "R2"
    assert filter_violations(viol, search="THREE").count() == 1
    assert filter_violations(viol).count() == 4


def test_sort_numeric_coerced(viol):
    ids = [r["clip_id"] for r in sort_numeric_coerced(viol, "clip_id").collect()]
    assert ids == ["2", "10", None, "x9"] or ids == ["2", "10", "x9", None]
    # numeric ascending first; non-numeric after numerics


def test_with_messages(spark, viol):
    out = with_messages(viol.withColumnRenamed("series", "s"), CAT)
    m = {r["rule_id"]: r["message"] for r in out.collect()}
    assert m["R1"] == "R1"  # unknown rule falls back to id


def test_export_csv_bom(spark, viol, tmp_path):
    out = str(tmp_path / "export")
    export_csv(viol, out)
    import glob

    part = glob.glob(f"{out}/part-*.csv")[0]
    data = open(part, "rb").read()
    assert data.startswith(b"\xef\xbb\xbf")
    assert "series".encode() in data


# --- pre-flight + orchestration -------------------------------------------

def test_missing_dim_escalation(spark):
    clips = _clips(spark, [("a", 1, 1, "flac", "t", "p0")])
    res = run_validation(spark, clips, {}, CAT, run_ts="2026-01-01 00:00:00")
    rules = {r["rule_id"] for r in res.violations.collect()}
    assert "AUX_MISSING_TRANSCRIPTS" in rules
    assert "X_FK" not in rules  # dependent rule skipped, not crashed


def test_empty_dim_escalation(spark):
    clips = _clips(spark, [("a", 1, 1, "flac", "t", "p0")])
    tr = spark.createDataFrame([], "clip_id string, transcript_ref string")
    res = run_validation(spark, clips, {"transcripts": tr}, CAT, run_ts="2026-01-01 00:00:00")
    rules = {r["rule_id"] for r in res.violations.collect()}
    assert "AUX_EMPTY_TRANSCRIPTS" in rules


def test_empty_fact_escalation(spark):
    clips = _clips(spark, []).filter("1=0")
    tr = spark.createDataFrame([("a", "t")], "clip_id string, transcript_ref string")
    res = run_validation(spark, clips, {"transcripts": tr}, CAT, run_ts="2026-01-01 00:00:00")
    rules = {r["rule_id"] for r in res.violations.collect()}
    assert "EMPTY_INPUT" in rules


def _write_minimal_xlsx(path, header, rows, sheet_name="キーワード"):
    """Build a real (minimal) OOXML workbook with shared + inline strings."""
    import zipfile

    all_rows = [header] + rows
    shared = sorted({c for r in all_rows for c in r if c is not None})
    sidx = {s: i for i, s in enumerate(shared)}

    def cell(r, c, v):
        ref = f"{chr(65 + c)}{r + 1}"
        if v is None:
            return ""
        if r % 2 == 0:  # exercise both cell types
            return f'<c r="{ref}" t="s"><v>{sidx[v]}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    sheet_xml = (
        '<?xml version="1.0"?><worksheet '
        'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        + "".join(
            f'<row r="{i + 1}">' + "".join(cell(i, j, v) for j, v in enumerate(r)) + "</row>"
            for i, r in enumerate(all_rows)
        )
        + "</sheetData></worksheet>"
    )
    ss_xml = (
        '<?xml version="1.0"?><sst '
        'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    wb_xml = (
        '<?xml version="1.0"?><workbook '
        'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{sheet_name}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels_xml = (
        '<?xml version="1.0"?><Relationships '
        'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb_xml)
        zf.writestr("xl/_rels/workbook.xml.rels", rels_xml)
        zf.writestr("xl/sharedStrings.xml", ss_xml)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)


def test_read_xlsx_shared_and_inline_strings(spark, tmp_path):
    """A real .xlsx aux file (shared + inline string cells, named sheet)
    loads row for row; empty cells come back NULL."""
    path = str(tmp_path / "keywords.xlsx")
    rows = [["株式会社", "a"], ["有限会社", None], ["  ", "blank row"],
            ["株式会社", "dup"], [None, "empty kw"]]
    _write_minimal_xlsx(path, ["検索文字", "メモ"], rows)
    df = read_xlsx_df(spark, path, "キーワード")
    assert df.columns == ["検索文字", "メモ"]
    assert [list(r) for r in df.collect()] == rows


def test_xlsx_duplicate_headers_uniquified(spark, tmp_path):
    path = str(tmp_path / "dup_headers.xlsx")
    _write_minimal_xlsx(path, ["検索文字", "検索文字"], [["kw1", "ignored"]])
    df = read_xlsx_df(spark, path)
    assert df.columns == ["検索文字", "検索文字_2"]
    assert [tuple(r) for r in df.collect()] == [("kw1", "ignored")]


def test_quarantine_split(spark):
    from data_check_spark.reporting import quarantine_split

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id int, val string"
    )
    v = spark.createDataFrame(
        [("R1", "2", "p0", "x"), ("R2", "2", "p0", "y"),   # double-flagged row
         ("R1", "4", "p1", "z"),
         ("DRIFT", None, "p1", "w1=0.5")],                  # partition-grain: no row
        "rule_id string, clip_id string, partition string, observed string",
    )
    clean, quarantined = quarantine_split(df, v, "id")
    assert sorted(r["id"] for r in clean.collect()) == [1, 3]
    assert sorted(r["id"] for r in quarantined.collect()) == [2, 4]


def test_examples_per_rule_bounded_and_deterministic(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from data_check_spark.reporting import examples_per_rule

    v = spark.range(100).select(
        F.concat(F.lit("R"), (F.col("id") % 3).cast("string")).alias("rule_id"),
        F.format_string("id%03d", F.col("id")).alias("clip_id"),
    )
    out = examples_per_rule(v, 4).collect()
    assert len(out) == 12  # 3 rules x 4
    by_rule = {}
    for r in out:
        by_rule.setdefault(r["rule_id"], []).append((r["example_rank"], r["clip_id"]))
    for rule, pairs in by_rule.items():
        pairs.sort()
        assert [p[0] for p in pairs] == [1, 2, 3, 4]
        assert pairs == sorted(pairs, key=lambda p: p[1])  # smallest ids first
    # n larger than group size -> whole group, no padding
    assert examples_per_rule(v.limit(2), 10).count() == 2
    with _pytest.raises(ValueError, match="n must be"):
        examples_per_rule(v, 0)
