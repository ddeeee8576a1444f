"""Input generator: writes every seed window of the named workloads to parquet.

Run from the repository root as ``python3 -m perfbench.gen --workload NAME...``.
It is its own process and measures nothing: measuring in the JVM that just
generated the data inflates the first runs about 2x on small VMs. The
benchmark runner starts it only when the inputs for the current ``datagen``
fingerprint are missing.

Layout per workload: ``<input_dir>/w<k>/{clips,transcripts}`` for each
window ``k`` plus one shared ``<input_dir>/baseline_stats`` (the drift
baseline snapshot, taken from window 0's clean partitions exactly as the
documented fixture does), and ``schemas.json``: the schema Spark infers for
each table, so a measuring process reads the inputs without the schema
inference job every fresh session would otherwise run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from perfbench.workloads import BYTES_CAP_MS, WINDOWS, WORKLOADS, Workload, cores, input_dir, window_dir

CLIP_COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript", "partition"]
FILES_PER_WINDOW = 16  # several input splits per core, so no task serializes
ORPHAN_FRAC = 0.02  # datagen.transcripts_df's default


def window_frames(spark, workload: Workload, w: int):
    """(clips, transcripts) for row ids [w * rows, (w + 1) * rows). Window 0
    equals ``clips_df(rows)`` / ``transcripts_df(rows)`` row for row."""
    from pyspark.sql import functions as F

    from data_check_spark import datagen

    n = workload.rows
    lo, hi = w * n, (w + 1) * n
    clips = datagen.clips_df(spark, hi, with_bytes=False).filter(F.col("_gen_id") >= lo)
    if workload.with_bytes:
        clips = datagen.attach_pcm_bytes(clips.drop("bytes"), cap_ms=BYTES_CAP_MS)
        clips = clips.select(*CLIP_COLUMNS)
    else:
        clips = clips.select(*[c for c in CLIP_COLUMNS if c != "bytes"])

    # transcripts_df over the window: in-window ids minus the dim_missing
    # bucket, plus every id of the orphan tail that follows the window.
    v = F.pmod(F.xxhash64(F.col("id"), F.lit("viol")), F.lit(10000))
    lo_m, hi_m = datagen.BUCKETS["dim_missing"]
    lo_x, hi_x = datagen.BUCKETS["dim_mismatch"]
    base_tr = datagen._transcript_text()
    transcripts = (
        spark.range(lo, hi + int(n * ORPHAN_FRAC))
        .filter((F.col("id") >= hi) | (v < lo_m) | (v >= hi_m))
        .select(
            F.concat(F.lit("clip_"), datagen._hx("clip")).alias("clip_id"),
            F.when((v >= lo_x) & (v < hi_x), F.concat(base_tr, F.lit(" [改訂]")))
            .otherwise(base_tr)
            .alias("transcript_ref"),
        )
    )
    return clips, transcripts


def generate(spark, root: str, workload: Workload) -> str:
    from pyspark.sql import functions as F

    from data_check_spark import datagen
    from data_check_spark.operators.drift import make_baseline

    out = input_dir(root, workload)
    for w in range(WINDOWS):
        clips, transcripts = window_frames(spark, workload, w)
        d = window_dir(root, workload, w)
        clips.repartition(FILES_PER_WINDOW).write.mode("overwrite").parquet(f"{d}/clips")
        transcripts.repartition(FILES_PER_WINDOW).write.mode("overwrite").parquet(f"{d}/transcripts")
    clean = (
        datagen.clips_df(spark, workload.rows, with_bytes=False)
        .drop("_gen_id", "_viol")
        .filter(~F.col("partition").isin(*sorted(datagen.DRIFT_PARTITIONS)))
    )
    make_baseline(spark, clean, ["dur_ms", "sr_hz"]).write.mode("overwrite").parquet(
        f"{out}/baseline_stats"
    )
    d = window_dir(root, workload, 0)
    schemas = {name: spark.read.parquet(path).schema.jsonValue() for name, path in (
        ("clips", f"{d}/clips"), ("transcripts", f"{d}/transcripts"),
        ("baseline_stats", f"{out}/baseline_stats"))}
    # Written last: its presence marks the inputs complete.
    with open(os.path.join(out, "schemas.json"), "w") as f:
        json.dump(schemas, f)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, nargs="+", choices=sorted(WORKLOADS))
    args = ap.parse_args(argv)

    from data_check_spark.session import get_spark

    n = cores()
    spark = get_spark("perfbench-gen", master=f"local[{n}]", shuffle_partitions=n)
    try:
        for name in args.workload:
            print(generate(spark, os.getcwd(), WORKLOADS[name]))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
