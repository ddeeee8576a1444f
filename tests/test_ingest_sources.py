"""JSONL corpus source + binaryFile media source (sources/jsonl, sources/media)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from data_check_spark.sources.jsonl import DEFAULT_CORRUPT_COL, MissingColumnsError, read_jsonl
from data_check_spark.sources.media import read_media_dir

DOC_SCHEMA = "doc_id bigint, lang string, text string"


def _write_jsonl(tmp_path, lines, name="part-0.jsonl"):
    d = tmp_path / "corpus"
    d.mkdir(exist_ok=True)
    (d / name).write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(d)


def _split(df):
    """(clean rows, raw corrupt lines) of one read_jsonl frame."""
    bad = F.col(DEFAULT_CORRUPT_COL).isNotNull()
    return df.filter(~bad).drop(DEFAULT_CORRUPT_COL), df.filter(bad).select(
        F.col(DEFAULT_CORRUPT_COL).alias("raw")
    )


def test_jsonl_clean_roundtrip(spark, tmp_path):
    rows = [{"doc_id": i, "lang": "en", "text": f"doc {i} body"} for i in range(5)]
    path = _write_jsonl(tmp_path, [json.dumps(r) for r in rows])
    df = read_jsonl(spark, path, DOC_SCHEMA)
    clean, rejects = _split(df)
    got = {(r.doc_id, r.lang, r.text) for r in clean.collect()}
    assert got == {(r["doc_id"], r["lang"], r["text"]) for r in rows}
    assert rejects.count() == 0


def test_jsonl_corrupt_lines_are_data_not_exceptions(spark, tmp_path):
    lines = [
        json.dumps({"doc_id": 1, "lang": "en", "text": "fine"}),
        '{"doc_id": 2, "lang": "en", "text": "truncated',  # invalid JSON
        "not json at all",
        json.dumps({"doc_id": 3, "lang": "de", "text": "auch gut"}),
    ]
    path = _write_jsonl(tmp_path, lines)
    clean, rejects = _split(read_jsonl(spark, path, DOC_SCHEMA))
    assert sorted(r.doc_id for r in clean.collect()) == [1, 3]
    assert {r.raw for r in rejects.collect()} == {lines[1], lines[2]}


def test_jsonl_missing_fields_are_null_not_corrupt(spark, tmp_path):
    # A valid JSON object missing schema fields parses with NULLs — only
    # malformed syntax lands in the corrupt column.
    path = _write_jsonl(tmp_path, ['{"doc_id": 7}'])
    clean, rejects = _split(read_jsonl(spark, path, DOC_SCHEMA))
    row = clean.collect()[0]
    assert (row.doc_id, row.lang, row.text) == (7, None, None)
    assert rejects.count() == 0


def test_jsonl_required_column_refusal(spark, tmp_path):
    path = _write_jsonl(tmp_path, ["{}"])
    with pytest.raises(MissingColumnsError):
        read_jsonl(spark, path, DOC_SCHEMA, required_columns=["doc_id", "embedding"])


def test_jsonl_read_is_splittable_config(spark, tmp_path):
    # multiLine must never be set: line-delimited reads split per block.
    # Two files → at least two partitions (one task each minimum).
    rows = [json.dumps({"doc_id": i, "lang": "en", "text": "x"}) for i in range(4)]
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.jsonl").write_text("\n".join(rows[:2]) + "\n")
    (d / "b.jsonl").write_text("\n".join(rows[2:]) + "\n")
    df = read_jsonl(spark, str(d), DOC_SCHEMA)
    assert df.rdd.getNumPartitions() >= 2
    assert df.count() == 4


def _write_media(tmp_path):
    d = tmp_path / "media"
    (d / "p0").mkdir(parents=True)
    (d / "p1").mkdir()
    files = {
        "p0/a.wav": b"RIFFfakebytes",
        "p0/b.jpg": b"\xff\xd8small",
        "p1/c.mp4": b"\x00\x00\x00 ftypmp42",
        "p1/d.xyz": b"??",
    }
    for rel, payload in files.items():
        (d / rel).write_bytes(payload)
    return str(d), files


def test_binaryfile_media_ingest(spark, tmp_path):
    path, files = _write_media(tmp_path)
    df = read_media_dir(spark, path).orderBy("media_id")
    rows = {r.media_id: r for r in df.collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    assert rows["a"].media_type == "audio" and bytes(rows["a"].payload) == files["p0/a.wav"]
    assert rows["b"].media_type == "image"
    assert rows["c"].media_type == "video" and rows["c"].rel_dir == "p1"
    assert rows["d"].media_type == "unknown"
    assert rows["a"].n_bytes == len(files["p0/a.wav"])
    assert rows["c"].n_bytes == len(files["p1/c.mp4"])
    assert all(r.error is None for r in rows.values())


def test_binaryfile_glob_prunes_listing(spark, tmp_path):
    path, _ = _write_media(tmp_path)
    df = read_media_dir(spark, path, glob="*.wav")
    assert [r.media_id for r in df.collect()] == ["a"]


def test_binaryfile_oversize_is_reject_not_crash(spark, tmp_path):
    path, files = _write_media(tmp_path)
    df = read_media_dir(spark, path, max_bytes=9)
    rows = {r.media_id: r for r in df.collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    big = {k.split("/")[1].split(".")[0] for k, v in files.items() if len(v) > 9}
    for mid, r in rows.items():
        if mid in big:
            assert r.error == "oversize" and r.payload is None
            assert r.n_bytes == len([v for k, v in files.items() if f"/{mid}." in k][0])
        else:
            assert r.error is None and r.payload is not None


def test_provenance_multi_file_addresses(spark, tmp_path):
    """Each row's (src_file, src_row_index) must name the actual file and
    0-based physical position that holds it — verified against pyarrow
    reading the files directly."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_check_spark.sources.provenance import read_parquet_with_provenance

    path = str(tmp_path / "prov")
    # two files, disjoint id ranges, known intra-file order
    spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartitionByRange(2, "id").sortWithinPartitions("id").write.parquet(path)

    expected = {}  # id -> (file_name, row_index)
    for f in glob.glob(f"{path}/*.parquet"):
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        for i, id_ in enumerate(ids):
            expected[id_] = (f.rsplit("/", 1)[1], i)

    got = read_parquet_with_provenance(spark, path).collect()
    assert len(got) == 100
    for r in got:
        assert (r["src_file"], r["src_row_index"]) == expected[r["id"]], r["id"]
        assert r["src_file_size"] > 0
    # data columns untouched, provenance appended
    cols = read_parquet_with_provenance(spark, path).columns
    assert cols == ["id", "v", "src_file", "src_file_size", "src_row_index"]
