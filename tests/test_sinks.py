"""Production write path: file sizing, partition layout, row-group pruning."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_check_spark.sinks import write_dataset


def _files(path):
    return [f for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
            if os.path.basename(f).startswith("part-")]


def test_write_dataset_bounds_file_size(spark, tmp_path):
    df = spark.range(10_000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    out = str(tmp_path / "d1")
    write_dataset(df, out, sort_by=["id"], rows_per_file=1000)
    files = _files(out)
    sizes = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert all(s <= 1000 for s in sizes), sizes
    # ceil(rows_in_task / 1000) files per task, no small-file explosion
    assert 10 <= len(files) <= 12, len(files)
    assert spark.read.parquet(out).count() == 10_000


def test_write_dataset_partition_dirs_and_roundtrip(spark, tmp_path):
    df = spark.range(600).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    out = str(tmp_path / "d2")
    write_dataset(df, out, partition_by=["part"], sort_by=["id"])
    assert sorted(os.path.basename(p) for p in glob.glob(f"{out}/part=*")) == [
        "part=0", "part=1", "part=2"
    ]
    back = spark.read.parquet(out)
    assert back.count() == 600
    assert back.filter(F.col("part") == "1").count() == 200


def test_write_dataset_files_are_pruning_friendly(spark, tmp_path):
    """Range exchange + local sort: every file carries a tight, mutually
    non-overlapping min/max range on the sort column — the property parquet
    row-group / file skipping needs."""
    df = spark.range(20_000).select(F.col("id")).repartition(8)  # pre-scrambled
    out = str(tmp_path / "d3")
    write_dataset(df, out, sort_by=["id"], rows_per_file=2500)
    ranges = []
    for f in _files(out):
        md = pq.ParquetFile(f).metadata
        mins = [md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges  # disjoint -> a point predicate reads ONE file


def test_write_dataset_guard(spark, tmp_path):
    df = spark.range(10)
    with pytest.raises(ValueError, match="rows_per_file"):
        write_dataset(df, str(tmp_path / "d4"), rows_per_file=0)


def test_verify_dataset_passes_on_faithful_write(spark, tmp_path):
    from data_check_spark.sinks import verify_dataset

    df = spark.range(500).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("part"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )
    out = str(tmp_path / "ds")
    write_dataset(df, out, partition_by=["part"], sort_by=["id"])
    report = verify_dataset(spark, out, df, partition_by=["part"]).collect()
    assert len(report) == 3
    assert all(r["passed"] for r in report)
    assert sum(r["actual_rows"] for r in report) == 500


def test_verify_dataset_catches_lost_partition_and_value_corruption(spark, tmp_path):
    import shutil

    from data_check_spark.sinks import verify_dataset

    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("part")
    )
    out = str(tmp_path / "ds")
    write_dataset(df, out, partition_by=["part"])
    # simulate a lost task output: drop one hive partition directory
    shutil.rmtree(out + "/part=1")
    report = {r["part"]: r for r in verify_dataset(spark, out, df, partition_by=["part"]).collect()}
    assert report["0"]["passed"]
    assert not report["1"]["passed"] and report["1"]["actual_rows"] == 0

    # value corruption with identical row counts: same ids, one value changed
    good = spark.range(10).select(F.col("id"), F.lit("a").alias("v"))
    bad = spark.range(10).select(
        F.col("id"), F.when(F.col("id") == 7, "b").otherwise("a").alias("v")
    )
    out2 = str(tmp_path / "ds2")
    write_dataset(bad, out2)
    row = verify_dataset(spark, out2, good).collect()[0]
    assert row["expected_rows"] == row["actual_rows"] == 10
    assert not row["checksum_match"] and not row["passed"]


def test_verify_dataset_unpartitioned_total_row(spark, tmp_path):
    from data_check_spark.sinks import verify_dataset

    df = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("x"))
    out = str(tmp_path / "ds")
    write_dataset(df, out, sort_by=["id"])
    rows = verify_dataset(spark, out, df).collect()
    assert len(rows) == 1 and rows[0]["passed"]


def test_dataset_checksum_order_invariant_duplicate_sensitive(spark):
    from data_check_spark.sinks import dataset_checksum

    rows = [(i, f"v{i % 7}") for i in range(100)]
    a = spark.createDataFrame(rows, "id long, v string")
    b = spark.createDataFrame(list(reversed(rows)), "id long, v string").repartition(7)
    ca = dataset_checksum(a).collect()[0]
    cb = dataset_checksum(b).collect()[0]
    # row order and physical partitioning never change the checksum
    assert (ca["n_rows"], ca["checksum"]) == (cb["n_rows"], cb["checksum"])

    # a duplicated row changes it (sum, not xor — pairs don't cancel)
    dup = spark.createDataFrame(rows + [rows[0]], "id long, v string")
    cd = dataset_checksum(dup).collect()[0]
    assert cd["n_rows"] == 101 and cd["checksum"] != ca["checksum"]

    # swapping values BETWEEN columns changes it (positional, type-tagged)
    swapped = spark.createDataFrame([("v0", 0)], "id string, v long").select(
        "id", "v"
    )
    base = spark.createDataFrame([(0, "v0")], "id long, v string")
    assert (
        dataset_checksum(base).collect()[0]["checksum"]
        != dataset_checksum(swapped).collect()[0]["checksum"]
    )


def test_write_tar_shards_webdataset_layout(spark, tmp_path):
    import hashlib
    import tarfile

    from data_check_spark.sinks import write_tar_shards

    df = spark.range(30).select(
        (F.col("id") % 3).alias("shard"),
        F.concat(F.lit("doc"), F.col("id")).alias("key"),
        F.concat(F.lit("text of "), F.col("id")).alias("text"),
        F.encode(F.concat(F.lit("pcm"), F.col("id")), "UTF-8").alias("bytes"),
        F.col("id").alias("pos"),
    )
    out = str(tmp_path / "tars")
    report = write_tar_shards(
        df, out, key_col="key", payloads={"text": "txt", "bytes": "wav"},
        order_col="pos",
    ).collect()
    rep = {r["shard"]: r for r in report}
    assert set(rep) == {0, 1, 2}
    assert sum(r["n_samples"] for r in report) == 30

    with tarfile.open(f"{out}/shard-000001.tar") as tf:
        names = tf.getnames()
        # 10 samples x 2 payloads, sample members adjacent, ordered by pos
        assert len(names) == 20
        assert names[0] == "doc1.txt" and names[1] == "doc1.wav"
        assert names[2] == "doc4.txt"
        assert tf.extractfile("doc1.txt").read() == b"text of 1"
        assert tf.extractfile("doc4.wav").read() == b"pcm4"
    # no stray temp files
    import os
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]

    # reproducible release: a rerun produces byte-identical shards
    before = {
        f: hashlib.md5(open(f"{out}/{f}", "rb").read()).hexdigest()
        for f in sorted(os.listdir(out))
    }
    write_tar_shards(
        df, out, key_col="key", payloads={"text": "txt", "bytes": "wav"},
        order_col="pos",
    ).collect()
    after = {
        f: hashlib.md5(open(f"{out}/{f}", "rb").read()).hexdigest()
        for f in sorted(os.listdir(out))
    }
    assert before == after


def test_write_tar_shards_null_payloads_and_guard(spark, tmp_path):
    import tarfile

    import pytest

    from data_check_spark.sinks import write_tar_shards

    df = spark.createDataFrame(
        [(0, "a", "hello"), (0, "b", None)], "shard long, key string, text string"
    )
    out = str(tmp_path / "tars")
    rep = write_tar_shards(df, out, key_col="key", payloads={"text": "txt"}).collect()
    assert rep[0]["n_samples"] == 2           # NULL-payload sample still counted
    with tarfile.open(f"{out}/shard-000000.tar") as tf:
        assert tf.getnames() == ["a.txt"]     # but contributes no member
    with pytest.raises(ValueError):
        write_tar_shards(df, out, key_col="key", payloads={})
