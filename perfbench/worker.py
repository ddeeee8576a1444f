"""Measurement process: one Spark session, one validation in flight.

Started by ``perfbench/run.py`` (``python3 -m perfbench.worker ...`` from
the repository root). It prints ``READY`` once ``session.get_spark`` has
returned, so the runner can time set-up from process start, then one JSON
line with its measurements. Modes:

- ``e2e``: one checked validation, the first in the session;
- ``trace``: the per-layer run (see ``perfbench/layers.py``);
- ``pin``: validate every seed window once and print the output digests
  that ``expected.json`` pins.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from perfbench.stats import Tally
from perfbench.workloads import RUN_TS, WINDOWS, WORKLOADS, Workload, catalog, cores, input_dir, window_dir

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def session():
    from data_check_spark.session import get_spark

    n = cores()
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)


def window_paths(root: str, workload: Workload, w: int) -> dict[str, str]:
    d = window_dir(root, workload, w)
    return {
        "clips": f"{d}/clips",
        "transcripts": f"{d}/transcripts",
        "baseline_stats": f"{input_dir(root, workload)}/baseline_stats",
    }


def load(spark, root: str, workload: Workload, w: int):
    """(clips, dims) of a window, read with the schemas the generator
    recorded, so no schema inference job runs."""
    from pyspark.sql.types import StructType

    with open(os.path.join(input_dir(root, workload), "schemas.json")) as f:
        schemas = json.load(f)
    paths = window_paths(root, workload, w)

    def read(name: str):
        return spark.read.schema(StructType.fromJson(schemas[name])).parquet(paths[name])

    return read("clips"), {k: read(k) for k in ("transcripts", "baseline_stats")}


def digest(violations, verdicts) -> dict:
    """Violation count, order-insensitive xxhash64 multiset sums of the
    violation rows (with and without ``observed``) and of the verdict table.
    The decimal sum cannot overflow the way a long sum of 64-bit hashes can."""
    from pyspark.sql import functions as F

    def multiset(*cols):
        return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))

    v = violations.agg(
        F.count(F.lit(1)).alias("n"),
        multiset("rule_id", "clip_id", "partition", "observed").alias("h"),
        multiset("rule_id", "clip_id", "partition").alias("k"),
    ).first()
    d = verdicts.agg(
        multiset("partition", "passed", "rows_scanned", "violations").alias("h")
    ).first()
    return {"violations": int(v["n"]), "hash": str(v["h"]), "key_hash": str(v["k"]),
            "verdict_hash": str(d["h"])}


def validate(spark, clips, dims, cat):
    from data_check_spark import engine

    res = engine.run_validation(spark, clips, dims, cat, run_ts=RUN_TS)
    return res, digest(res.violations, res.verdicts)


def free_blocks(spark) -> None:
    """Drop the localCheckpoint blocks a finished validation leaves pinned in
    the heap, so every run starts from the same state."""
    import bench

    bench._unpersist_except(spark, frozenset())


def expected_for(workload: Workload, w: int) -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)[workload.name][str(w)]


def timed_validation(spark, clips, dims, cat, tally: Tally, expected: dict, label: str):
    """One checked validation: (wall seconds, rows scanned). A validation
    that raises or returns a wrong output counts as failed, not fatal."""
    t0 = time.monotonic()
    dig, rows = None, 0
    try:
        res, dig = validate(spark, clips, dims, cat)
        rows = res.rows_scanned
    except Exception:  # noqa: BLE001 — a failed run is a data point
        traceback.print_exc()
    wall = time.monotonic() - t0
    tally.record(dig, expected, label)
    free_blocks(spark)
    return wall, rows


def run_e2e(spark, root: str, workload: Workload, w: int) -> dict:
    """One checked validation in the fresh session: what a one-shot
    ``spark-submit`` job pays. A warm validation after it would cost another
    10-15 s per run, which the pass's time budget does not leave."""
    clips, dims = load(spark, root, workload, w)
    tally = Tally()
    cold, rows = timed_validation(spark, clips, dims, catalog(workload), tally,
                                  expected_for(workload, w), "cold")
    return {
        "cold_wall_s": cold,
        "rows": rows,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "problems": tally.problems,
    }


def run_pin(spark, root: str, workload: Workload) -> dict:
    cat = catalog(workload)
    out = {}
    for w in range(WINDOWS):
        clips, dims = load(spark, root, workload, w)
        _, out[str(w)] = validate(spark, clips, dims, cat)
        free_blocks(spark)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--mode", required=True, choices=["e2e", "trace", "pin"])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--window", type=int, default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()

    spark = session()
    print("READY", flush=True)
    try:
        workload = WORKLOADS[args.workload]
        if args.mode == "e2e":
            out = run_e2e(spark, root, workload, args.window)
        elif args.mode == "trace":
            from perfbench.layers import run_trace

            out = run_trace(spark, root, workload, args.window)
        else:
            out = run_pin(spark, root, workload)
        print(json.dumps(out), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
