"""Tar-shard source: WebDataset import, round trip with the export sink."""

import pyspark.sql.functions as F
import pytest

from data_check_spark.sinks import write_tar_shards
from data_check_spark.sources.tar import read_tar_shards


@pytest.fixture()
def exported(spark, tmp_path):
    df = spark.range(24).select(
        (F.col("id") % 3).alias("shard"),
        F.concat(F.lit("doc"), F.col("id")).alias("key"),
        # one NULL text payload (doc7): the sink skips it, the reader must
        # surface the sample with a NULL column (from its remaining member)
        F.when(F.col("id") != 7, F.concat(F.lit("text of "), F.col("id"))).alias("text"),
        F.encode(F.concat(F.lit("pcm"), F.col("id")), "UTF-8").alias("bytes"),
    )
    out = str(tmp_path / "tars")
    write_tar_shards(
        df, out, key_col="key", payloads={"text": "txt", "bytes": "wav"}
    ).collect()
    return df, out


def test_round_trip_exact(spark, exported):
    df, out = exported
    back = read_tar_shards(spark, out, payloads={"txt": "text", "wav": "bytes"})
    rows = {r["key"]: r for r in back.collect()}
    assert len(rows) == 24
    assert all(r["status"] == "ok" for r in rows.values())
    orig = {r["key"]: r for r in df.collect()}
    for k, o in orig.items():
        assert rows[k]["text"] == o["text"]          # incl. doc7 -> None
        assert rows[k]["bytes"].encode() == bytes(o["bytes"])  # utf-8 decoded
    # shard assignment is recoverable from the file name
    assert rows["doc4"]["shard_file"] == "shard-000001.tar"


def test_corrupt_shard_is_error_as_data(spark, exported, tmp_path):
    _, out = exported
    with open(f"{out}/shard-000099.tar", "wb") as f:
        f.write(b"this is not a tar archive at all, not even close....")
    back = read_tar_shards(spark, out, payloads={"txt": "text", "wav": "bytes"})
    bad = back.filter("status = 'corrupt_tar'").collect()
    assert len(bad) == 1
    assert bad[0]["shard_file"] == "shard-000099.tar"
    assert bad[0]["key"] is None and bad[0]["text"] is None
    assert back.filter("status = 'ok'").count() == 24


def test_bad_member_does_not_poison_shard(spark, exported, tmp_path):
    """A single non-UTF-8 text member NULLs that sample's column and marks
    it bad_member; every other sample in the shard still parses (round-2
    advisor fix — previously the whole shard became one corrupt_tar row)."""
    import io
    import tarfile

    _, out = exported
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key, payload in [
            ("good1", b"fine text"),
            ("mojibake", b"\xff\xfe broken \x80"),   # not utf-8
            ("good2", b"also fine"),
        ]:
            info = tarfile.TarInfo(f"{key}.txt")
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    with open(f"{out}/shard-000050.tar", "wb") as f:
        f.write(buf.getvalue())
    back = read_tar_shards(spark, out, payloads={"txt": "text"})
    rows = {r["key"]: r for r in back.filter(
        F.col("shard_file") == "shard-000050.tar").collect()}
    assert set(rows) == {"good1", "mojibake", "good2"}
    assert rows["good1"]["status"] == "ok" and rows["good1"]["text"] == "fine text"
    assert rows["good2"]["status"] == "ok" and rows["good2"]["text"] == "also fine"
    assert rows["mojibake"]["status"] == "bad_member"
    assert rows["mojibake"]["text"] is None


def test_first_dot_split_convention(spark, exported):
    """WebDataset key/suffix split is at the FIRST dot: key.seq.txt is key
    'key' with (registrable) suffix 'seq.txt', not key 'key.seq'."""
    import io
    import tarfile

    _, out = exported
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in [
            ("docA.seq.txt", b"sequence text"),
            ("docA.txt", b"plain text"),
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    with open(f"{out}/shard-000060.tar", "wb") as f:
        f.write(buf.getvalue())
    back = read_tar_shards(
        spark, out, payloads={"txt": "text", "seq.txt": "seq"}
    ).filter(F.col("shard_file") == "shard-000060.tar")
    rows = {r["key"]: r for r in back.collect()}
    assert set(rows) == {"docA"}
    assert rows["docA"]["text"] == "plain text"
    assert rows["docA"]["seq"] == "sequence text"


def test_sink_rejects_dotted_keys(spark, tmp_path):
    """WebDataset keys must be dot-free: a dotted key would write members
    the first-dot reader cannot reassemble — the sink fails loud."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, "bad.key", "text")], "shard int, key string, text string"
    )
    with _pytest.raises(Exception, match="dot-free"):
        write_tar_shards(
            df, str(tmp_path / "t"), key_col="key", payloads={"text": "txt"}
        ).collect()


def test_unknown_suffix_ignored_and_guards(spark, exported):
    _, out = exported
    only_wav = read_tar_shards(spark, out, payloads={"wav": "bytes"})
    rows = only_wav.collect()
    assert len(rows) == 24 and all(r["bytes"] is not None for r in rows)
    with pytest.raises(ValueError):
        read_tar_shards(spark, out, payloads={})
    with pytest.raises(ValueError):
        read_tar_shards(spark, out, payloads={"txt": "x", "wav": "x"})


def test_plan_no_shuffle_single_python_stage(spark, exported):
    _, out = exported
    back = read_tar_shards(spark, out, payloads={"txt": "text"})
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_source_keys_include_directory(spark, tmp_path):
    """Members in different directories with the same basename are distinct
    samples (WebDataset keys include the path), not a silent last-write-wins
    merge."""
    import io
    import tarfile

    p = tmp_path / "shards"
    p.mkdir()
    with tarfile.open(p / "s0.tar", "w") as tf:
        for member, payload in [
            ("a/x.txt", b"from-a"),
            ("b/x.txt", b"from-b"),
            ("./c/x.txt", b"from-c"),
        ]:
            info = tarfile.TarInfo(member)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))

    from data_check_spark.sources.tar import read_tar_shards

    back = read_tar_shards(spark, str(p), payloads={"txt": "text"})
    rows = {r["key"]: r["text"] for r in back.collect()}
    assert rows == {"a/x": "from-a", "b/x": "from-b", "c/x": "from-c"}


def test_dotted_directory_keys_round_trip(spark, tmp_path):
    """Dots in DIRECTORY segments are legal (v1.0/clip): the sink accepts
    them (only the basename must be dot-free) and the reader reassembles
    the same keys — the read->write->read cycle is lossless."""
    df = spark.createDataFrame(
        [(0, "v1.0/clip", "alpha"), (0, "v2.0/clip", "beta")],
        "shard int, key string, text string",
    )
    out = str(tmp_path / "t")
    write_tar_shards(df, out, key_col="key", payloads={"text": "txt"}).collect()
    back = read_tar_shards(spark, out, payloads={"txt": "text"})
    rows = {r["key"]: r["text"] for r in back.collect()}
    assert rows == {"v1.0/clip": "alpha", "v2.0/clip": "beta"}


def test_sink_rejects_dot_slash_prefixed_keys(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, "./clip", "text")], "shard int, key string, text string"
    )
    with pytest.raises(Exception, match="round-trip"):
        write_tar_shards(
            df, str(tmp_path / "t"), key_col="key", payloads={"text": "txt"}
        ).collect()
