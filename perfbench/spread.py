"""Run-to-run spread: one workload over several seeds, one run per seed.

    python3 perfbench/spread.py --workload pcm_full --seeds 0-9 [--trace 0]

Run from the repository root. Prints each run's metrics, then per metric
the median and the quartile spread ``(Q3 - Q1) / median`` that the bounds
in BENCHMARK.json are judged by. A run that fails or reads incorrect is
reported and left out of the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())

from perfbench.stats import median, quartile_spread  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, default=seed_range("0-9"))
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        took = time.monotonic() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
            continue
        record, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: {took:.1f}s calib_sec={record['host']['calib_sec']:.3f} "
              f"correct={result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()), flush=True)
        if result["correct"]:
            for k, v in metrics.items():
                values.setdefault(k, []).append(v)
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 and median(vs) else float("nan")
        print(f"{k:28s} n={len(vs):2d} median={median(vs):.4g} spread={spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
