"""Structured Streaming incremental validation."""

import pytest
from pyspark.sql import functions as F

from data_check_spark.rules.spec import Rule, RuleCatalog
from data_check_spark.streaming.incremental import (
    start_incremental_validation,
    stream_clips,
    streaming_violations_with_ts,
    violation_rate_monitor,
)

CATALOG = RuleCatalog(
    [
        Rule("S_ID_NOT_NULL", "not_null", "clip_id"),
        Rule("S_SR_POSITIVE", "range", "sr_hz", {"min": 1}),
        Rule("S_CODEC_SET", "value_in_set", "codec", {"allowed": ["flac", "opus"]}),
    ]
)


def _write_batch(spark, path, rows, batch_id):
    df = spark.createDataFrame(
        rows,
        "clip_id string, sr_hz int, dur_ms int, codec string, transcript string, "
        "partition string, event_ts timestamp",
    )
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def clip_dir(spark, tmp_path):
    import datetime as dt

    ts = dt.datetime(2026, 1, 1, 0, 0, 0)
    path = str(tmp_path / "clips_in")
    rows1 = [
        ("c1", 16000, 1000, "flac", "t", "p0", ts),
        (None, 16000, 1000, "flac", "t", "p0", ts),          # S_ID_NOT_NULL
        ("c3", -5, 1000, "opus", "t", "p1", ts),             # S_SR_POSITIVE
    ]
    rows2 = [
        ("c4", 8000, 500, "mp3", "t", "p1", ts),             # S_CODEC_SET
        ("c5", 8000, 500, "opus", "t", "p0", ts),
    ]
    _write_batch(spark, path, rows1, 0)
    _write_batch(spark, path, rows2, 1)
    return path


def test_incremental_validation_end_to_end(spark, clip_dir, tmp_path):
    out = str(tmp_path / "viol_out")
    ckpt = str(tmp_path / "ckpt")
    q = start_incremental_validation(
        spark, clip_dir, out, CATALOG, run_ts="2026-01-01 00:00:00",
        checkpoint_dir=ckpt, trigger_once=True,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    rules = sorted(r["rule_id"] for r in got.collect())
    assert rules == ["S_CODEC_SET", "S_ID_NOT_NULL", "S_SR_POSITIVE"]
    assert set(got.columns) == {"rule_id", "clip_id", "partition", "observed", "event_ts"}


def test_incremental_is_incremental(spark, clip_dir, tmp_path):
    """Restarting with the same checkpoint processes only NEW files."""
    import datetime as dt

    out = str(tmp_path / "viol_out2")
    ckpt = str(tmp_path / "ckpt2")
    q = start_incremental_validation(
        spark, clip_dir, out, CATALOG, run_ts="2026-01-01 00:00:00",
        checkpoint_dir=ckpt, trigger_once=True,
    )
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()

    _write_batch(
        spark, clip_dir,
        [("c6", 0, 9, "flac", "t", "p2", dt.datetime(2026, 1, 1, 0, 5, 0))],  # sr=0
        2,
    )
    q = start_incremental_validation(
        spark, clip_dir, out, CATALOG, run_ts="2026-01-01 00:00:00",
        checkpoint_dir=ckpt, trigger_once=True,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == n1 + 1  # only the new file's violation appended
    assert got.filter(F.col("clip_id") == "c6").count() == 1


def test_violation_rate_monitor_plan(spark, clip_dir):
    """Windowed monitor compiles as a streaming plan with watermark."""
    stream = stream_clips(spark, clip_dir)
    viol = streaming_violations_with_ts(stream, CATALOG, run_ts="2026-01-01 00:00:00")
    mon = violation_rate_monitor(viol)
    assert mon.isStreaming
    assert set(mon.columns) == {"window_start", "window_end", "rule_id", "n_violations"}


def test_batch_reconciliation_catches_cross_batch_duplicate(spark, tmp_path):
    """The documented trade-off: a duplicate straddling two micro-batches is
    NOT flagged by the stateless streaming pass, and the nightly batch run
    over the same directory IS the reconciliation that catches it."""
    import datetime as dt

    from data_check_spark.engine import run_validation

    ts = dt.datetime(2026, 1, 1, 0, 0, 0)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dup_catalog = RuleCatalog(
        list(CATALOG) + [Rule("S_ID_UNIQUE", "unique", "clip_id")]
    )

    # batch 1 and batch 2 each contain "cdup" exactly once
    _write_batch(spark, in_dir,
                 [("cdup", 16000, 1000, "flac", "t", "p0", ts),
                  ("c1", 16000, 1000, "flac", "t", "p0", ts)], 1)
    q = start_incremental_validation(
        spark, in_dir, out_dir, dup_catalog,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt, trigger_once=True,
    )
    q.awaitTermination(120)
    _write_batch(spark, in_dir,
                 [("cdup", 16000, 1000, "flac", "t", "p1", ts),
                  ("c2", 16000, 1000, "flac", "t", "p1", ts)], 2)
    q = start_incremental_validation(
        spark, in_dir, out_dir, dup_catalog,
        run_ts="2026-01-01 00:00:00", checkpoint_dir=ckpt, trigger_once=True,
    )
    q.awaitTermination(120)

    stream_out = spark.read.parquet(out_dir)
    assert stream_out.filter("rule_id = 'S_ID_UNIQUE'").count() == 0  # missed

    # nightly batch reconciliation over the SAME directory flags both rows
    clips = spark.read.parquet(in_dir)
    res = run_validation(spark, clips, {}, dup_catalog, run_ts="2026-01-01 00:00:00")
    dup_rows = res.violations.filter("rule_id = 'S_ID_UNIQUE'").collect()
    assert sorted((r["clip_id"], r["partition"]) for r in dup_rows) == [
        ("cdup", "p0"), ("cdup", "p1"),
    ]


def test_stateful_dedup_catches_cross_batch_duplicate(spark, tmp_path):
    """applyInPandasWithState closes the cross-batch window: the state store
    remembers first occurrences across availableNow restarts, so the second
    arrival of a key emits violations for BOTH rows — no batch run needed."""
    import datetime as dt

    from data_check_spark.streaming.stateful import start_stateful_dedup

    ts = dt.datetime(2026, 1, 1, 0, 0, 0)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, in_dir,
                 [("cdup", 16000, 1000, "flac", "t", "p0", ts),
                  ("c1", 16000, 1000, "flac", "t", "p0", ts),
                  (None, 16000, 1000, "flac", "t", "p0", ts)], 1)
    q = start_stateful_dedup(spark, in_dir, out_dir, checkpoint_dir=ckpt,
                             trigger_once=True)
    q.awaitTermination(120)
    # only one occurrence so far -> silent
    assert spark.read.parquet(out_dir).count() == 0

    _write_batch(spark, in_dir,
                 [("cdup", 16000, 1000, "flac", "t", "p1", ts),
                  ("c2", 16000, 1000, "flac", "t", "p1", ts)], 2)
    q = start_stateful_dedup(spark, in_dir, out_dir, checkpoint_dir=ckpt,
                             trigger_once=True)
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    got = sorted((r["clip_id"], r["partition"], r["observed"]) for r in rows)
    assert got == [("cdup", "p0", "occurrence=1"), ("cdup", "p1", "occurrence=2")]
    assert all(r["rule_id"] == "STREAM_DUP" for r in rows)

    # third occurrence -> one more violation for the new row only
    _write_batch(spark, in_dir,
                 [("cdup", 16000, 1000, "flac", "t", "p2", ts)], 3)
    q = start_stateful_dedup(spark, in_dir, out_dir, checkpoint_dir=ckpt,
                             trigger_once=True)
    q.awaitTermination(120)
    third = spark.read.parquet(out_dir).filter("partition = 'p2'").collect()
    assert [r["observed"] for r in third] == ["occurrence=3"]


def test_stateful_dedup_observed_is_batch_invariant(spark, tmp_path):
    """The same waves drained one file per micro-batch and as one batch
    emit the same (clip_id, observed) multiset: observed is the occurrence
    ordinal, not the running count at emit time."""
    import datetime as dt

    from data_check_spark.streaming.stateful import start_stateful_dedup

    ts = dt.datetime(2026, 1, 1, 0, 0, 0)
    in_dir = str(tmp_path / "in")
    waves = [
        [("a", "p0"), ("b", "p0"), ("a", "p0")],   # in-wave duplicate
        [("a", "p1"), ("c", "p1")],
        [("b", "p2"), ("a", "p2"), ("c", "p2"), ("d", "p2")],
    ]
    for i, wave in enumerate(waves):
        _write_batch(spark, in_dir,
                     [(k, 16000, 1000, "flac", "t", p, ts) for k, p in wave], i)

    def drain(tag, max_files):
        out_dir = str(tmp_path / f"out_{tag}")
        q = start_stateful_dedup(spark, in_dir, out_dir,
                                 checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
                                 trigger_once=True, max_files_per_trigger=max_files)
        assert q.awaitTermination(120)
        return sorted((r["clip_id"], r["observed"])
                      for r in spark.read.parquet(out_dir).collect())

    per_file = drain("per_file", 1)
    assert per_file == drain("one_batch", len(waves))
    assert per_file == sorted(
        [("a", f"occurrence={k}") for k in range(1, 5)]
        + [("b", "occurrence=1"), ("b", "occurrence=2"),
           ("c", "occurrence=1"), ("c", "occurrence=2")]
    )


def test_violation_sessions_gap_semantics(spark, tmp_path):
    """Session windows close after a quiet gap: two violation bursts 20min
    apart with a 5min gap yield two sessions for the rule."""
    import datetime as dt

    from data_check_spark.streaming.incremental import (
        stream_clips,
        streaming_violations_with_ts,
        violation_sessions,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    in_dir = str(tmp_path / "in")
    rows = []
    for m in (0, 1, 2):            # burst 1
        rows.append((None, 16000, 1000, "flac", "t", "p0", base + dt.timedelta(minutes=m)))
    for m in (22, 23):             # burst 2 (gap 20min > 5min)
        rows.append((None, 16000, 1000, "flac", "t", "p0", base + dt.timedelta(minutes=m)))
    _write_batch(spark, in_dir, rows, 1)

    stream = stream_clips(spark, in_dir)
    sessions = violation_sessions(
        streaming_violations_with_ts(stream, CATALOG, run_ts="2026-01-01 00:00:00"),
        gap="5 minutes", watermark="1 minute",
    )
    out_dir = str(tmp_path / "sessions")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # advance the watermark so both sessions finalize: a later batch
    _write_batch(spark, in_dir,
                 [(None, 16000, 1000, "flac", "t", "p0", base + dt.timedelta(hours=2))], 2)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["session_start"], r["n_violations"])
        for r in spark.read.parquet(out_dir).filter("rule_id = 'S_ID_NOT_NULL'").collect()
    )
    assert (base, 3) in got                                  # burst 1: 3 rows
    assert (base + dt.timedelta(minutes=22), 2) in got       # burst 2: 2 rows


def test_microbatch_set_rules_via_foreachbatch(spark, tmp_path):
    """Set-oriented rules run per micro-batch through the batch engine:
    a within-batch duplicate is flagged immediately by the streaming job."""
    import datetime as dt

    from data_check_spark.streaming.incremental import start_microbatch_validation

    ts = dt.datetime(2026, 1, 1)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    catalog = RuleCatalog(
        list(CATALOG) + [Rule("S_UNIQ", "unique", "clip_id")]
    )
    _write_batch(spark, in_dir,
                 [("dup_in_batch", 16000, 1000, "flac", "t", "p0", ts),
                  ("dup_in_batch", 16000, 1000, "flac", "t", "p0", ts),
                  ("c9", 0, 1000, "flac", "t", "p0", ts)], 1)  # sr=0 violates
    q = start_microbatch_validation(
        spark, in_dir, out_dir, catalog,
        run_ts="2026-01-01 00:00:00",
        checkpoint_dir=str(tmp_path / "ck"), trigger_once=True,
    )
    q.awaitTermination(180)
    v = spark.read.parquet(f"{out_dir}/violations")
    got = {(r["rule_id"], r["clip_id"]) for r in v.collect()}
    assert ("S_UNIQ", "dup_in_batch") in got          # set rule fired in-batch
    assert ("S_SR_POSITIVE", "c9") in got             # row-local rule too
    assert v.filter("rule_id = 'S_UNIQ'").count() == 2
    assert set(r["batch_id"] for r in v.select("batch_id").collect()) == {0}


def test_microbatch_bytes_schema_runs_audio_rules(spark, tmp_path):
    """The narrow default stream schema skips audio rules (no bytes column);
    STREAM_CLIPS_SCHEMA_WITH_BYTES runs the PCM checks per micro-batch."""
    import datetime as dt

    from data_check_spark.functions.pcm import synth_wave
    from data_check_spark.streaming.incremental import (
        STREAM_CLIPS_SCHEMA_WITH_BYTES,
        start_microbatch_validation,
    )

    ts = dt.datetime(2026, 1, 1)
    in_dir = str(tmp_path / "in")
    good = bytes(synth_wave("c_ok", 16000, 1000, 20).tobytes())
    df = spark.createDataFrame(
        [("c_ok", good, 16000, 1000, "flac", "t", "p0", ts),
         ("c_empty", b"", 16000, 1000, "flac", "t", "p0", ts)],
        STREAM_CLIPS_SCHEMA_WITH_BYTES,
    )
    df.coalesce(1).write.mode("append").parquet(in_dir)
    catalog = RuleCatalog(
        [Rule("B_SNR", "audio_decode", "bytes", {"snr_db_min": 30.0, "cap_ms": 20})]
    )

    # narrow default: audio rule not applicable, no violations written
    q = start_microbatch_validation(
        spark, in_dir, str(tmp_path / "out_narrow"), catalog,
        run_ts="2026-01-01 00:00:00",
        checkpoint_dir=str(tmp_path / "ck_narrow"), trigger_once=True,
    )
    q.awaitTermination(180)

    # full-fidelity schema: empty PCM violates, good wave passes
    q = start_microbatch_validation(
        spark, in_dir, str(tmp_path / "out_bytes"), catalog,
        run_ts="2026-01-01 00:00:00",
        checkpoint_dir=str(tmp_path / "ck_bytes"), trigger_once=True,
        schema=STREAM_CLIPS_SCHEMA_WITH_BYTES,
    )
    q.awaitTermination(180)
    v = spark.read.parquet(str(tmp_path / "out_bytes") + "/violations")
    got = {(r["rule_id"], r["clip_id"]) for r in v.collect()}
    assert ("B_SNR", "c_empty") in got
    assert ("B_SNR", "c_ok") not in got


def test_watermark_bound_controls_late_data_loss(spark, tmp_path):
    """Ties the watermark_plan recommendation to actual behavior: a row
    arriving 2h late is DROPPED by a windowed aggregation under a 10-minute
    watermark and KEPT under a p100-sized (3-hour) bound — `withWatermark`
    must cover the measured out-of-orderness or data silently vanishes."""
    import datetime as dt

    from data_check_spark.streaming.incremental import (
        stream_clips,
        streaming_violations_with_ts,
    )

    base = dt.datetime(2026, 1, 1, 6, 0, 0)

    def run(watermark: str, tag: str) -> dict:
        in_dir = str(tmp_path / f"in_{tag}")
        # batch 1: two violations at base, plus a base+3h row that advances
        # the event-time watermark well past base.
        _write_batch(spark, in_dir, [
            (None, 16000, 1000, "flac", "t", "p0", base),
            (None, 16000, 1000, "flac", "t", "p0", base),
            (None, 16000, 1000, "flac", "t", "p0", base + dt.timedelta(hours=3)),
        ], 1)
        counts = (
            streaming_violations_with_ts(
                stream_clips(spark, in_dir), CATALOG, run_ts="2026-01-01 00:00:00"
            )
            .withWatermark("event_ts", watermark)
            .groupBy(F.window("event_ts", "1 hour").alias("w"), "rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "rule_id", "n")
        )
        out = str(tmp_path / f"out_{tag}")
        ck = str(tmp_path / f"ck_{tag}")

        def drain():
            q = (
                counts.writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ck).outputMode("append")
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        drain()
        # batch 2: ONE more violation at base — 3h behind the advanced
        # watermark — plus a base+6h row to finalize every window.
        _write_batch(spark, in_dir, [
            (None, 16000, 1000, "flac", "t", "p0", base),
            (None, 16000, 1000, "flac", "t", "p0", base + dt.timedelta(hours=6)),
        ], 2)
        drain()
        return {
            r["ws"]: r["n"]
            for r in spark.read.parquet(out).filter("rule_id = 'S_ID_NOT_NULL'").collect()
        }

    tight = run("10 minutes", "tight")
    assert tight[base] == 2          # the 2h-late third violation was DROPPED
    wide = run("3 hours", "wide")
    assert wide[base] == 3           # p100-sized bound keeps it


def test_stream_validate_job_once_drains_and_resumes(spark, tmp_path):
    """spark-submit streaming entry point: --once drains the backlog into
    the row-violations sink, a relaunch with the same checkpoint resumes
    past processed files (only NEW violations append), and --stateful-dedup
    surfaces a cross-batch duplicate across the two invocations."""
    import datetime as dt

    from jobs.stream_validate_job import main as job_main

    ts = dt.datetime(2026, 1, 1, 0, 0, 0)
    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    args = [
        "--input", in_dir, "--output-dir", out, "--checkpoint-dir", ckpt,
        "--once", "--stateful-dedup", "--run-ts", "2026-01-01 00:00:00",
        "--timeout-sec", "120",
    ]

    _write_batch(spark, in_dir,
                 [("cdup", 16000, 1000, "flac", "t", "p0", ts),
                  (None, 16000, 1000, "flac", "t", "p0", ts)], 1)
    assert job_main(list(args)) == 0
    first = spark.read.parquet(f"{out}/row_violations").count()
    assert first >= 1  # NULL clip_id fires the not-null row rule
    assert spark.read.parquet(f"{out}/stream_dup").count() == 0

    _write_batch(spark, in_dir,
                 [("cdup", -1, 1000, "flac", "t", "p1", ts)], 2)
    assert job_main(list(args)) == 0
    second = spark.read.parquet(f"{out}/row_violations").count()
    # resumed run appends only the NEW file's violations (bad sr fires)
    assert second > first
    dup_rows = spark.read.parquet(f"{out}/stream_dup").collect()
    assert sorted(r["partition"] for r in dup_rows) == ["p0", "p1"]


def test_stream_validate_job_once_survives_query_failure(spark, tmp_path, capsys):
    """A query that FAILS mid-execution (corrupt parquet file in the input)
    must not abort the drain: awaitTermination's StreamingQueryException is
    caught per query, the JSON summary is printed with the error recorded,
    and the job exits 2 — not an uncaught traceback (round-5 xhigh
    review). NOTE: both queries read the same corrupt input, so both fail;
    the point under test is the loop surviving and summarizing failures."""
    import datetime as dt
    import json as _json

    from jobs.stream_validate_job import main as job_main

    ts = dt.datetime(2026, 1, 1, 0, 0, 0)
    in_dir = tmp_path / "in"
    _write_batch(spark, str(in_dir), [(None, 16000, 1000, "flac", "t", "p0", ts)], 1)
    (in_dir / "zz_corrupt.parquet").write_bytes(b"PAR1 this is not parquet")
    rc = job_main([
        "--input", str(in_dir), "--output-dir", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--once", "--stateful-dedup", "--run-ts", "2026-01-01 00:00:00",
        "--timeout-sec", "120",
    ])
    assert rc == 2
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["errors"] and not summary["drained"]
    assert summary["queries"] == 2  # both queries were started and awaited


def test_stream_validate_job_spec_error_is_not_skipped(spark, tmp_path, capsys):
    """The stream-schema probe drops only rules whose columns the stream
    lacks (an analysis error), and says why; a ``{run_ts}`` rule without
    --run-ts is a spec error and fails the job instead of being reported
    as "skipped for stream schema"."""
    import datetime as dt
    import json as _json

    from jobs.stream_validate_job import main as job_main

    in_dir = str(tmp_path / "in")
    _write_batch(spark, in_dir,
                 [("c1", 16000, 1000, "flac", "t", "p0", dt.datetime(2027, 1, 1))], 1)
    rules = str(tmp_path / "rules.json")
    RuleCatalog([
        Rule("S_FUTURE_TS", "cross_column", params={"expr": "event_ts > {run_ts}"}),
        Rule("S_NO_SUCH_COL", "cross_column", params={"expr": "bytes_len < 0"}),
    ]).save(rules)
    args = ["--input", in_dir, "--rules", rules, "--output-dir", str(tmp_path / "out"),
            "--checkpoint-dir", str(tmp_path / "ckpt"), "--once", "--timeout-sec", "120"]

    with pytest.raises(ValueError, match="S_FUTURE_TS needs run_ts"):
        job_main(list(args))

    assert job_main([*args, "--run-ts", "2026-01-01 00:00:00"]) == 0
    captured = capsys.readouterr()
    summary = _json.loads(captured.out.strip().splitlines()[-1])
    assert summary["rules_skipped_for_schema"] == ["S_NO_SUCH_COL"]
    assert "row rule S_NO_SUCH_COL skipped for stream schema: [UNRESOLVED_COLUMN" in captured.err
    viol = spark.read.parquet(str(tmp_path / "out" / "row_violations")).collect()
    assert [r["rule_id"] for r in viol] == ["S_FUTURE_TS"]


def test_stream_validate_job_bad_regex_fails_before_any_query(spark, tmp_path):
    """A row rule whose regex does not compile fails the job at resolve
    time, naming the rule, before any streaming query starts — a JVM regex
    otherwise compiles lazily and the query would die on its first
    micro-batch."""
    import datetime as dt

    from jobs.stream_validate_job import main as job_main

    in_dir = str(tmp_path / "in")
    _write_batch(spark, in_dir,
                 [("c1", 16000, 1000, "flac", "t", "p0", dt.datetime(2026, 1, 1))], 1)
    rules = str(tmp_path / "rules.json")
    RuleCatalog([
        Rule("S_SR_POSITIVE", "range", "sr_hz", {"min": 1}),
        Rule("S_BAD_REGEX", "format", "codec", {"pattern": "(unclosed"}),
    ]).save(rules)
    with pytest.raises(ValueError, match="S_BAD_REGEX"):
        job_main(["--input", in_dir, "--rules", rules,
                  "--output-dir", str(tmp_path / "out"),
                  "--checkpoint-dir", str(tmp_path / "ckpt"),
                  "--once", "--timeout-sec", "120"])
    assert spark.streams.active == []
