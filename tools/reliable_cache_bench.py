"""Measure reliable-checkpoint overhead vs localCheckpoint at bench scale.

``run_validation(reliable_cache=True)`` writes the prepared (narrow) clip
table to the spark checkpoint dir instead of executor-local blocks — the
recommended mode on a real multi-executor cluster, where an executor loss
mid-run would otherwise drop localCheckpoint blocks and kill the job. This
tool records the measured cost of that durability at bench scale so the
recommendation in engine.py's docstring carries a number.

Methodology (the interleaved same-process control BASELINE.md uses for the
cat_drift decomposition): one warmup, then alternating
localCheckpoint / reliable runs in ONE JVM, best-of-N each — host drift
hits both arms equally.

Usage: python tools/reliable_cache_bench.py [--rows 1000000] [--repeats 3]
Writes one JSON line; paste the numbers into BENCH/BASELINE.md's manual
section.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from data_check_spark.session import get_spark, host_cores

    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores()))
    args = ap.parse_args()

    import bench
    from pyspark.sql import functions as F

    from data_check_spark.engine import run_validation
    from data_check_spark.rules.catalog_audio import audio_catalog

    spark = get_spark(
        "reliable_cache_bench", master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus, 8),
    )
    root, generated = bench.ensure_clip_cache(spark, args.rows)
    if generated:
        # same rule as bench.py: never measure in the JVM that generated
        print("cache generated; re-run for clean measurement", file=sys.stderr)
    ckpt = tempfile.mkdtemp(prefix="reliable_ckpt_")

    def one(reliable: bool) -> float:
        clips = spark.read.parquet(f"{root}/clips")
        dims = {
            "transcripts": spark.read.parquet(f"{root}/transcripts"),
            "baseline_stats": spark.read.parquet(f"{root}/baseline_stats"),
        }
        t0 = time.monotonic()
        res = run_validation(
            spark, clips, dims, audio_catalog(bytes_cap_ms=bench.BYTES_CAP_MS),
            run_ts="2026-01-01 00:00:00",
            reliable_cache=reliable,
            checkpoint_dir=ckpt if reliable else None,
        )
        agg = res.violations.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("rule_id", "clip_id", "partition", "observed")
                  .cast("decimal(38,0)")).alias("h"),
        ).first()
        wall = time.monotonic() - t0
        return wall, agg["n"], str(agg["h"])

    one(False)  # warmup, untimed
    local_runs, reliable_runs = [], []
    sig = set()
    for _ in range(args.repeats):
        w, n, h = one(False)
        local_runs.append(round(w, 2)); sig.add((n, h))
        w, n, h = one(True)
        reliable_runs.append(round(w, 2)); sig.add((n, h))
    best_local, best_rel = min(local_runs), min(reliable_runs)
    out = {
        "rows": args.rows,
        "cpus": args.cpus,
        "local_checkpoint_sec": local_runs,
        "reliable_checkpoint_sec": reliable_runs,
        "best_local_sec": best_local,
        "best_reliable_sec": best_rel,
        "overhead_sec": round(best_rel - best_local, 2),
        "overhead_pct": round(100.0 * (best_rel - best_local) / best_local, 1),
        "violations_identical": len(sig) == 1,
        "calib_sec": round(bench.calibration_score(), 3),
    }
    out.update(bench.boot_identity())
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
