"""export_xlsx: the reference's primary result export (to_excel,
data_check.py:1249-1264), written stdlib-only as the twin of the
sources/xlsx.py reader — round-tripped through that reader so both sides
pin each other."""

import pytest
from pyspark.sql import functions as F

from data_check_spark.reporting import export_csv, export_xlsx
from data_check_spark.sources.xlsx import read_xlsx_df


@pytest.fixture()
def report_df(spark):
    return spark.createDataFrame(
        [
            ("R_SR_POSITIVE", "clip<1>", "p0", 3, 12.5),
            ("R_FK", "株式 & co", "p1", 1, None),
            ("R_UNIQUE", None, None, 0, -0.25),
        ],
        "rule_id string, clip_id string, partition string, n int, score double",
    )


def test_xlsx_round_trip(spark, report_df, tmp_path):
    path = str(tmp_path / "result.xlsx")
    export_xlsx(report_df, path)
    back = read_xlsx_df(spark, path, "result")
    assert back.columns == report_df.columns
    got = [tuple(r) for r in back.orderBy("rule_id").collect()]
    want = [
        tuple(None if v is None else str(v) for v in r)
        for r in report_df.orderBy("rule_id").collect()
    ]
    # reader returns raw cell text: ints verbatim, doubles shortest-repr
    assert got == want


def test_xlsx_refuses_oversize(spark, tmp_path, monkeypatch):
    from data_check_spark import reporting

    monkeypatch.setattr(reporting, "XLSX_MAX_ROWS", 10)
    df = spark.range(12).select(F.col("id").cast("string").alias("v"))
    with pytest.raises(ValueError, match="refuses"):
        export_xlsx(df, str(tmp_path / "big.xlsx"))


def test_xlsx_csv_parity(spark, report_df, tmp_path):
    """xlsx export and BOM-CSV export of the same frame carry identical
    values (the two reference export paths must never diverge)."""
    xlsx = str(tmp_path / "r.xlsx")
    csv_dir = str(tmp_path / "r_csv")
    export_xlsx(report_df, xlsx)
    export_csv(report_df, csv_dir)
    from_xlsx = read_xlsx_df(spark, xlsx)
    from_csv = spark.read.option("header", "true").csv(csv_dir)
    assert from_xlsx.columns == from_csv.columns
    a = sorted(tuple(r) for r in from_xlsx.collect())
    b = sorted(tuple(r) for r in from_csv.collect())
    assert a == b


def test_xlsx_control_chars_and_escape_lookalikes(spark, tmp_path):
    """XML-1.0-illegal control bytes (live in violation `observed` strings)
    are encoded with OOXML's _xHHHH_ convention (escaping literal
    lookalikes' underscore first), and the reader decodes the convention
    back — the write->read cycle round-trips EXACTLY, matching what Excel
    and openpyxl do with the same files."""
    originals = ["a\x01b\x1fc", "literal _x0041_ text", "tab\tok\nnl"]
    df = spark.createDataFrame([(s,) for s in originals], "observed string")
    path = str(tmp_path / "ctrl.xlsx")
    export_xlsx(df, path)
    back = read_xlsx_df(spark, path)
    got = sorted(r["observed"] for r in back.collect())
    assert got == sorted(originals)


def test_export_result_dispatch(spark, report_df, tmp_path):
    from data_check_spark.reporting import export_result

    export_result(report_df, str(tmp_path / "r.xlsx"))
    export_result(report_df, str(tmp_path / "r.csv"))
    assert read_xlsx_df(spark, str(tmp_path / "r.xlsx"), "result").count() == 3
    assert spark.read.option("header", "true").csv(str(tmp_path / "r.csv")).count() == 3
    with pytest.raises(ValueError, match="extension"):
        export_result(report_df, str(tmp_path / "r.parquet"))
