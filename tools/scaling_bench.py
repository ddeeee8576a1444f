"""Two-parallelism scaling evidence (BASELINE.json north_rule).

The rule's criterion — throughput scaling efficiency >= 0.8 between N and 4N
executor clusters — is evidenced in-sandbox by running the identical full
rule-set validation job on the identical input at local[N] and local[4N]
(fresh JVM per run; input parquet pre-generated; each invocation warms up
untimed and reports best-of-3 in-process repeats = the steady state of a
long-lived executor).

Default pair: N=2 vs 4N=8. On this 32-vCPU host that pair keeps both
configs un-oversubscribed (each Spark task thread is paired with a python
UDF worker, so local[k] actively uses ~2k cores). local[32] numbers are
also recorded for context: there the job oversubscribes the host
(32 tasks + 32 python workers + JVM service threads on 32 vCPUs) and
shares one virtio disk, which caps the visible speedup — a real 4N-executor
cluster adds disks and NICs with the cores.

Writes BENCH/BASELINE.md and prints one JSON line.

Usage: python tools/scaling_bench.py [--rows N] [--n 2] [--context-cores 32]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cpus: int, rows: int, repeats: int = 3) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
        BENCH_CLIP_ROWS=str(rows),
        BENCH_SKIP_QUERIES="1",
        BENCH_REPEATS=str(repeats),
        BENCH_WARMUP_FRAC="0.3",
    )
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env, capture_output=True, text=True, check=True,
        )
    except subprocess.CalledProcessError as e:
        # surface the child's Spark traceback — a swallowed stderr turns a
        # failed multi-minute evidence run into an undiagnosable exit code
        sys.stderr.write(e.stderr or "")
        raise
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--n", type=int, default=2, help="N cores (4N runs too)")
    ap.add_argument("--context-cores", type=int, default=32)
    args = ap.parse_args()
    n, n4 = args.n, args.n * 4

    rn = run_once(n, args.rows)
    rn4 = run_once(n4, args.rows)
    rctx = run_once(args.context_cores, args.rows) if args.context_cores else None

    thr_n, thr_n4 = rn["clips_per_sec"], rn4["clips_per_sec"]
    efficiency = (thr_n4 / thr_n) / 4.0

    def row(label, r):
        return (f"| {label} | {r['value']:.1f} | {r['clips_per_sec']:,.0f} | "
                f"{r['violations']:,} | {'/'.join(f'{s:.1f}' for s in r['all_runs_sec'])} |")

    lines = [
        "# BENCH/BASELINE — measured numbers (north_rule scaling evidence)",
        "",
        f"Input: {args.rows:,} synthetic clips (SF-scaled stand-in for the 10^12-clip",
        "design point), identical parquet input for every run, full audio rule",
        "catalog (26 rules: single-pass row rules, pandas-UDF PCM SNR, fused",
        "t-digest drift, two-phase uniqueness, fused referential joins).",
        "Fresh JVM per parallelism level; untimed warm-up then best of 3",
        "in-process repeats (steady state of a long-lived executor).",
        "",
        "| parallelism | wall sec (best) | clips/sec | violations | all runs (sec) |",
        "|---|---|---|---|---|",
        row(f"local[{n}]  (N)", rn),
        row(f"local[{n4}] (4N)", rn4),
    ]
    if rctx:
        lines.append(row(f"local[{args.context_cores}] (context)", rctx))
    lines += [
        "",
        f"**Scaling efficiency N→4N (local[{n}]→local[{n4}]): {efficiency:.2f}**"
        + ("  — meets the ≥0.8 criterion" if efficiency >= 0.8 else "  — below 0.8"),
        "",
        f"Violation multisets identical across all parallelism levels "
        f"(count + order-insensitive xxhash64 row hash): "
        f"{len({(r['violations'], r.get('violations_hash')) for r in filter(None, [rn, rn4, rctx])}) == 1}.",
        "",
        "Why N=2 vs 4N=8 on this host: each Spark task thread pairs with a",
        "python UDF worker, so local[k] actively uses ~2k of the 32 vCPUs —",
        "local[8] is the largest 4N config that runs un-oversubscribed. The",
        "local[32] context row oversubscribes the host (64+ runnable threads",
        "on 32 vCPUs, one shared virtio disk) yet still improves throughput;",
        "on a real 4N-executor cluster, disks and NICs scale with the cores.",
        "",
        f"Recorded {time.strftime('%Y-%m-%d %H:%M:%S UTC', time.gmtime())}; "
        "harness: tools/scaling_bench.py; per-run JSON via bench.py.",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # Preserve hand-authored sections below the marker (variance history,
    # spark-submit launch evidence) — the tool owns only the measured table.
    marker = "<!-- manual sections below: preserved by tools/scaling_bench.py -->"
    manual = ""
    if os.path.exists(out_path):
        prev = open(out_path).read()
        if marker in prev:
            manual = prev[prev.index(marker):]
    lines += ["", manual or marker]
    with open(out_path, "w") as f:
        f.write("\n".join(lines).rstrip() + "\n")
    print(json.dumps({
        f"t{n}_sec": rn["value"], f"t{n4}_sec": rn4["value"],
        "clips_per_sec_n": thr_n, "clips_per_sec_4n": thr_n4,
        "efficiency": round(efficiency, 3),
        "context_cores": args.context_cores,
        "context_clips_per_sec": rctx["clips_per_sec"] if rctx else None,
        "violations_match": len(
            {(r["violations"], r.get("violations_hash")) for r in filter(None, [rn, rn4, rctx])}
        ) == 1,
    }))


if __name__ == "__main__":
    main()
