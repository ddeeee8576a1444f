"""WebDataset tar-shard export: layout, determinism, NULL payloads."""

from pyspark.sql import functions as F


def test_write_tar_shards_webdataset_layout(spark, tmp_path):
    import hashlib
    import tarfile

    from data_check_spark.sinks import write_tar_shards

    df = spark.range(30).select(
        (F.col("id") % 3).alias("shard"),
        F.concat(F.lit("doc"), F.col("id")).alias("key"),
        F.concat(F.lit("text of "), F.col("id")).alias("text"),
        F.encode(F.concat(F.lit("pcm"), F.col("id")), "UTF-8").alias("bytes"),
    )
    out = str(tmp_path / "tars")
    report = write_tar_shards(
        df, out, key_col="key", payloads={"text": "txt", "bytes": "wav"}
    ).collect()
    rep = {r["shard"]: r for r in report}
    assert set(rep) == {0, 1, 2}
    assert sum(r["n_samples"] for r in report) == 30

    with tarfile.open(f"{out}/shard-000001.tar") as tf:
        names = tf.getnames()
        # 10 samples x 2 payloads, sample members adjacent, ordered by key
        assert len(names) == 20
        assert names[0] == "doc1.txt" and names[1] == "doc1.wav"
        assert names[2] == "doc10.txt"
        assert names[-2] == "doc7.txt"
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
        df, out, key_col="key", payloads={"text": "txt", "bytes": "wav"}
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
