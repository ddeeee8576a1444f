"""spark-submit entry point: end-to-end arg wiring through main()."""

import json
import os
import sys

JOBS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


def test_validate_job_end_to_end(spark, tmp_path, capsys):
    """main() reads parquet inputs, runs the catalog, writes violations +
    verdicts + checkpoint, prints one JSON summary line."""
    from data_check_spark import datagen

    sys.path.insert(0, JOBS)
    import validate_job

    clips = str(tmp_path / "clips")
    tr = str(tmp_path / "transcripts")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    datagen.clips_df(spark, 500, bytes_cap_ms=20).drop("_gen_id", "_viol").write.parquet(clips)
    datagen.transcripts_df(spark, 500).write.parquet(tr)

    rc = validate_job.main([
        "--input", clips, "--transcripts", tr,
        "--output-dir", out, "--checkpoint-dir", ckpt,
        "--reliable-cache",
        "--run-ts", "2026-01-01 00:00:00",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["total_violations"] > 0
    assert summary["rows_scanned"] == 500
    assert not summary["schema_problems"]
    v = spark.read.parquet(f"{out}/violations")
    # contract columns + the run_id partition column (appended last on read)
    assert v.columns == ["rule_id", "clip_id", "partition", "observed", "run_id"]
    assert v.count() == summary["total_violations"]
    verd = spark.read.parquet(f"{out}/verdicts")
    assert {"partition", "passed", "rows_scanned", "violations", "wall_time_ms"} <= set(verd.columns)
    # checkpoint rows landed (resume would prune these partitions)
    from data_check_spark.checkpoint import completed_partitions

    assert len(completed_partitions(spark, ckpt)) == verd.count()

    # a relaunch APPENDS under a new run_id instead of clobbering run 1
    rc = validate_job.main([
        "--input", clips, "--transcripts", tr,
        "--output-dir", out,
        "--run-ts", "2026-01-01 00:00:00",
    ])
    assert rc == 0
    v2 = spark.read.parquet(f"{out}/violations")
    assert v2.select("run_id").distinct().count() == 2
    assert v2.count() == 2 * summary["total_violations"]


def test_resumed_single_run_summary_reports_reconciled_view(spark, tmp_path, capsys):
    """After a --resume relaunch the checkpointed single run's summary
    describes the reconciled final view (violations_final/verdicts_final),
    not just the relaunch's own attempt."""
    from pyspark.sql import functions as F

    from data_check_spark import datagen
    from jobs import validate_job

    full = datagen.clips_df(spark, 400, bytes_cap_ms=20).drop("_gen_id", "_viol")
    clips_half, clips_full = str(tmp_path / "half"), str(tmp_path / "full")
    full.filter(F.col("partition") < "p0064").write.parquet(clips_half)
    full.write.parquet(clips_full)
    tr = str(tmp_path / "transcripts")
    datagen.transcripts_df(spark, 400).write.parquet(tr)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    args = ["--transcripts", tr, "--output-dir", out, "--checkpoint-dir", ckpt,
            "--run-ts", "2026-01-01 00:00:00"]

    assert validate_job.main(["--input", clips_half, *args]) == 0
    assert validate_job.main(["--input", clips_full, *args, "--resume"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    final_v = spark.read.parquet(f"{out}/violations_final")
    final_d = spark.read.parquet(f"{out}/verdicts_final")
    assert summary["total_violations"] == final_v.count()
    assert summary["rows_scanned"] == final_d.agg(F.sum("rows_scanned")).first()[0]
