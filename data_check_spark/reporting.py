"""Result filtering / search / sort / export — the reference's result UI ops.

Reference analogs: series filter + case-insensitive substring search across
result columns (data_check.py:1119-1137), numeric-coercion sort with NaN
last (data_check.py:1139-1165), message resolution via the rule catalog
(data_check.py:539-550, 1240), CSV export with utf-8-sig BOM
(data_check.py:1258) and Excel export (1261).

All Spark-side: the search is an OR-chain of lowered contains; the message
join broadcasts the (tiny) rule catalog; the numeric sort uses try_cast with
nulls-last so non-numeric ids sort after numeric ones exactly like the
reference's pd.to_numeric(errors='coerce') two-key sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_check_spark.rules.spec import RuleCatalog
from data_check_spark.schemas import literal_frame


def filter_violations(df: DataFrame, *, search: str | None = None) -> DataFrame:
    """Case-insensitive substring search over the violation columns."""
    out = df
    if search:
        needle = search.lower()
        cond = None
        for c in ("rule_id", "clip_id", "partition", "observed"):
            if c not in out.columns:
                continue
            this = F.lower(F.coalesce(F.col(c).cast("string"), F.lit(""))).contains(needle)
            cond = this if cond is None else (cond | this)
        if cond is not None:
            out = out.filter(cond)
    return out


def sort_numeric_coerced(df: DataFrame, column: str) -> DataFrame:
    """Two-key sort: numeric value of ``column`` (non-numeric → NULL → last),
    then the raw string — the reference's pd.to_numeric(errors='coerce')
    sort (data_check.py:1147-1159). The literal strings 'NaN'/'Infinity'
    cast to non-finite doubles in Spark; pandas to_numeric treats them as
    numbers too, but their sort position differs between engines (Spark
    orders NaN before NULLs and first under desc) — map non-finite parses
    to NULL so they group with the other coercion failures, as the
    reference UI displays them."""
    raw = F.expr(f"try_cast(cast(`{column}` as string) as double)")
    num = F.when(F.isnan(raw) | (F.abs(raw) == float("inf")), F.lit(None)).otherwise(raw)
    return df.orderBy(num.asc_nulls_last(), F.col(column).asc())


def with_messages(violations: DataFrame, catalog: RuleCatalog) -> DataFrame:
    """Broadcast-join the rule catalog to resolve display messages
    (user message > name > rule id — the reference's override chain)."""
    spark = violations.sparkSession
    rows = [(r.rule_id, catalog.message_for(r.rule_id), r.severity) for r in catalog]
    msgs = F.broadcast(literal_frame(spark, rows, "rule_id string, message string, severity string"))
    # replace semantics: re-enriching an already-enriched frame is a no-op
    # rather than an AMBIGUOUS_REFERENCE error
    base = violations.drop("message", "severity")
    return base.join(msgs, "rule_id", "left").withColumn(
        "message", F.coalesce(F.col("message"), F.col("rule_id"))
    )


def export_csv(df: DataFrame, path: str) -> None:
    """CSV export with utf-8-sig BOM handling (reference writes utf-8-sig so
    Excel opens Japanese text correctly). Spark's csv writer has no BOM
    option, so the export is coalesced to ONE part file and the BOM is
    prepended to it."""
    import re as _re
    from urllib.parse import urlparse

    # Scheme detection must catch single-slash URIs too (hdfs:/x is a valid
    # Hadoop URI): anything with a scheme other than file is not local.
    m = _re.match(r"^[A-Za-z][A-Za-z0-9+.\-]+:", path)
    scheme = m.group(0)[:-1].lower() if m else ""
    if scheme not in ("", "file"):
        # The BOM prepend below runs on the driver's local filesystem; on
        # hdfs://-/s3a:// it would silently no-op and deliver a BOM-less
        # file — the one thing this function exists to guarantee.
        raise ValueError(
            f"BOM export requires a local path, got {path!r}; "
            "export locally and upload"
        )
    df.coalesce(1).write.mode("overwrite").option("header", "true").option(
        "encoding", "UTF-8"
    ).csv(path)
    import glob
    import os

    # glob needs the OS path, not the file: URI Spark accepted above
    local_dir = urlparse(path).path if scheme == "file" else path
    for part in glob.glob(os.path.join(local_dir, "part-*.csv")):
        tmp = part + ".bom"
        with open(part, "rb") as src:
            head = src.read(3)
            if head == b"\xef\xbb\xbf":
                continue
            # Stream in chunks — the export can be bigger than driver RAM.
            with open(tmp, "wb") as dst:
                dst.write(b"\xef\xbb\xbf")
                dst.write(head)
                while chunk := src.read(1 << 20):
                    dst.write(chunk)
        os.replace(tmp, part)
        # The BOM rewrite invalidates Hadoop's checksum sidecar; leaving
        # it makes Spark itself unable to re-read the exported file
        # (ChecksumException) — delete it so re-ingest round-trips.
        crc = os.path.join(
            os.path.dirname(part), "." + os.path.basename(part) + ".crc"
        )
        if os.path.exists(crc):
            os.remove(crc)


def top_rules(violations: DataFrame, k: int | None = 5) -> DataFrame:
    """Top-k rules by violation count (reference nlargest; count desc,
    rule_id asc tie-break). ``k=None`` returns the full ranked summary."""
    ranked = (
        violations.groupBy("rule_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("rule_id"))
    )
    return ranked if k is None else ranked.limit(k)


def quarantine_split(
    df: DataFrame,
    violations: DataFrame,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Split the input into (clean, quarantined) by violation membership.

    The standard downstream of a validation run: rows flagged by any
    row-grain rule are routed to a quarantine table for repair while the
    clean remainder flows on — the reference's users do this by hand from
    the exported CSV; here it is one distinct + two hash joins on the key
    (semi for quarantined, anti for clean), so Catalyst/AQE pick broadcast
    when the violator set is small and the input is scanned twice at most.

    Partition-grain violation rows (``clip_id IS NULL`` — drift, volume)
    quarantine nothing: they indict a partition, not a row; act on them
    via the verdicts table.

    Input rows whose ``id_col`` is NULL are ALWAYS quarantined: a keyless
    row cannot be joined against the violation set, so it can never be
    certified clean (and a NULL primary key is itself the defect the id
    rules exist to catch) — routing it downstream as clean would ship the
    very rows most in need of repair.
    """
    bad = violations.filter(F.col("clip_id").isNotNull())
    keys = bad.select(F.col("clip_id").alias("_qkey")).distinct()
    cond = F.col(id_col).cast("string") == F.col("_qkey")
    null_id = F.col(id_col).isNull()
    quarantined = df.join(keys, cond, "left_semi").unionByName(df.filter(null_id))
    clean = df.join(keys, cond, "left_anti").filter(~null_id)
    return clean, quarantined


def examples_per_rule(
    violations: DataFrame,
    n: int = 5,
    *,
    order_col: str = "clip_id",
) -> DataFrame:
    """Up to ``n`` deterministic example rows per rule — the triage view
    (reference GUI shows the first offending rows per check; data_check.py's
    per-check preview). ``collect()``-ing all violations to sample them on
    the driver would defeat the point at 10^12 rows: this is a per-rule-key
    window over (rule, order_col) — millions of small groups, never a global
    sort — and the output is bounded by #rules × n no matter the input.
    Deterministic (smallest ``order_col`` first) so reruns and engines agree.
    """
    from pyspark.sql.window import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = Window.partitionBy("rule_id").orderBy(F.asc(order_col))
    return (
        violations.withColumn("example_rank", F.row_number().over(w))
        .where(F.col("example_rank") <= n)
    )


def _xlsx_col_ref(idx: int) -> str:
    """Zero-based column index -> Excel letters ('BC' for 54)."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


XLSX_MAX_ROWS = 1_048_575  # data rows under the header: the format's sheet limit


def export_xlsx(df: DataFrame, path: str) -> None:
    """Result export to a real .xlsx workbook (reference: the primary result
    export is DataFrame.to_excel, data_check.py:1249-1264; export_csv's
    BOM-CSV is the scale-path sibling). Stdlib-only writer — zipfile + hand
    rendered OOXML, the write-side twin of sources/xlsx.py — emitting one
    sheet with a header row; strings as inline-string cells (no shared
    strings part), numerics as native number cells, None as omitted cells.

    Like the reference's to_excel this is a DRIVER-side write of a bounded
    REPORT frame (summaries, top-k, examples_per_rule output): it refuses
    more than ``XLSX_MAX_ROWS`` data rows (the xlsx format's own sheet limit)
    instead of truncating silently — route bigger results through
    export_csv/parquet."""
    import re as _re
    import zipfile
    from xml.sax.saxutils import escape as _sax_escape

    from pyspark.sql.types import (
        ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType,
        ShortType,
    )

    # Control characters are illegal in XML 1.0 even escaped; OOXML's own
    # convention (what openpyxl emits) is the _xHHHH_ escape. Literal
    # sequences that LOOK like that escape must have their underscore
    # escaped first or they would decode as the wrong character. Violation
    # `observed` strings carry raw data bytes, so this path is live.
    _ILLEGAL = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
    _FAKE_ESC = _re.compile(r"_(?=x[0-9A-Fa-f]{4}_)")

    def _xml_escape(s: str) -> str:
        s = _FAKE_ESC.sub("_x005F_", s)
        s = _ILLEGAL.sub(lambda m: f"_x{ord(m.group()):04X}_", s)
        return _sax_escape(s)

    numeric = (ByteType, ShortType, IntegerType, LongType, FloatType,
               DoubleType, DecimalType)
    is_num = [isinstance(f.dataType, numeric) for f in df.schema.fields]
    rows = df.limit(XLSX_MAX_ROWS + 1).collect()
    if len(rows) > XLSX_MAX_ROWS:
        raise ValueError(
            f"export_xlsx refuses >{XLSX_MAX_ROWS} rows (xlsx sheet limit); "
            "use export_csv or parquet for full-size results"
        )

    def _cell(ref: str, v, num: bool) -> str:
        if v is None:
            return ""
        if num and not (isinstance(v, float) and (v != v or v in (float("inf"), float("-inf")))):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if isinstance(v, bool):
            v = "true" if v else "false"
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{_xml_escape(str(v))}</t></is></c>"
        )

    def _row(r_idx: int, values, nums) -> str:
        cells = "".join(
            _cell(f"{_xlsx_col_ref(c)}{r_idx}", v, n)
            for c, (v, n) in enumerate(zip(values, nums))
        )
        return f'<row r="{r_idx}">{cells}</row>'

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{pkg_ns}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns}" xmlns:r="{rel_ns}"><sheets>'
        '<sheet name="result" sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{pkg_ns}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        # Stream the sheet part: header row + data rows, never one giant str.
        with zf.open("xl/worksheets/sheet1.xml", "w") as out:
            out.write(
                b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            )
            out.write(f'<worksheet xmlns="{ns}"><sheetData>'.encode())
            out.write(
                _row(1, df.columns, [False] * len(df.columns)).encode()
            )
            for i, r in enumerate(rows, start=2):
                out.write(_row(i, list(r), is_num).encode())
            out.write(b"</sheetData></worksheet>")


def export_result(df: DataFrame, path: str) -> None:
    """Extension-dispatched result export mirroring the reference's save
    dialog (data_check.py:1256-1261: ``.csv`` → BOM-CSV so Excel opens
    Japanese text correctly, ``.xlsx`` → Excel workbook)."""
    if path.endswith(".xlsx"):
        export_xlsx(df, path)
    elif path.endswith(".csv"):
        # The reference's dialog saves ONE file at the chosen path;
        # export_csv still leaves a Spark output DIRECTORY
        # (part-00000 + _SUCCESS), so write there and promote the
        # BOM part file to the requested path.
        import glob as _glob
        import os as _os
        import shutil as _shutil

        tmp_dir = path + ".spark-tmp"
        export_csv(df, tmp_dir)
        parts = _glob.glob(_os.path.join(tmp_dir, "part-*.csv"))
        if len(parts) != 1:  # coalesce(1) guarantees one; fail loud if not
            raise RuntimeError(f"expected one part file in {tmp_dir}, got {parts}")
        _os.replace(parts[0], path)
        _shutil.rmtree(tmp_dir)
    else:
        raise ValueError(f"unsupported result extension: {path!r} (.csv/.xlsx)")
