"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pcm_full --seed 0 --seconds 30 --trace 0

Run from the repository root. The runner itself starts no JVM: it generates
missing inputs in a separate process (``perfbench.gen``), then starts the
measurement process (``perfbench.worker``). Every Spark process gets the
same explicit host fit: heap, ``local[<cores>]`` and local dirs inside the
checkout.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (README.md lists both). The last stdout line is always
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
full run record (samples, host fit, boot id, calibration). ``--pin``
re-records ``expected.json`` from the current code instead.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.stats import fail_ratio  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CACHE_DIR,
    DRIVER_MEM,
    WORKLOADS,
    cores,
    input_dir,
    window,
    window_dir,
)

RUN_LIMIT_S = 170  # every run must end within 180s
REQUIRED = ("data_check_spark/engine.py", "data_check_spark/session.py",
            "data_check_spark/datagen.py", "jobs/validate_job.py", "bench.py")


def spark_env() -> dict[str, str]:
    cache = os.path.join(ROOT, CACHE_DIR)
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


class Proc:
    """A child Python process in its own session. Tracks every descendant
    (the JVM, the PySpark daemon and its workers) so all of them can be
    waited for, and optionally the peak of their summed resident memory."""

    def __init__(self, args: list[str], log_path: str, sample_rss: bool = False):
        self.log = open(log_path, "ab")
        self.t0 = time.monotonic()
        self.p = subprocess.Popen(
            [sys.executable, *args], cwd=ROOT, env=spark_env(), stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True)
        self.seen: set[tuple[int, str]] = set()
        self.peak_rss_kb = 0
        self.sample_rss = sample_rss
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._watch, daemon=True)
        self._thread.start()

    def _tree(self) -> list[tuple[int, str]]:
        children: dict[int, list[tuple[int, str]]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append((int(d), fields[19]))
        out, todo = [], [self.p.pid]
        while todo:
            for child in children.get(todo.pop(), []):
                out.append(child)
                todo.append(child[0])
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        """Proportional set size: resident pages, each shared page split
        among its sharers. Plain RSS would count the JVM's heap twice while
        a child it forks has not yet exec'd."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _watch(self) -> None:
        while not self._stop.is_set():
            tree = self._tree()
            self.seen.update(tree)
            if self.sample_rss:
                total = self._rss_kb(self.p.pid) + sum(self._rss_kb(pid) for pid, _ in tree)
                self.peak_rss_kb = max(self.peak_rss_kb, total)
            self._stop.wait(0.25)

    def readline(self) -> str:
        return self.p.stdout.readline().decode(errors="replace").strip()

    def finish(self, deadline: float) -> tuple[int, list[str]]:
        """Wait for exit (killing at ``deadline``), then end every descendant
        ever seen and wait for it; returns (exit code, remaining stdout lines).
        The worker has stopped its session by then, but its JVM lingers for
        seconds after its parent exits, so the rest of the group is told to
        terminate at once."""
        try:
            rest, _ = self.p.communicate(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            self._signal_group(signal.SIGKILL)
            rest, _ = self.p.communicate()
        self._stop.set()
        self._thread.join()
        self.log.close()
        self._signal_group(signal.SIGTERM)
        for pid, start in self.seen:
            self._reap(pid, start)
        return self.p.returncode, rest.decode(errors="replace").splitlines()

    def _signal_group(self, sig: int) -> None:
        try:
            os.killpg(self.p.pid, sig)
        except ProcessLookupError:
            pass

    @staticmethod
    def _alive(pid: int, start: str) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            return False
        return fields[19] == start and fields[0] != "Z"

    def _reap(self, pid: int, start: str) -> None:
        for _ in range(100):
            if not self._alive(pid, start):
                return
            time.sleep(0.1)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while self._alive(pid, start):
            time.sleep(0.05)


def last_json(lines: list[str]) -> dict | None:
    for line in reversed(lines):
        if line.startswith("{"):
            return json.loads(line)
    return None


def worker(args: list[str], log: str, deadline: float, sample_rss: bool = False):
    """Run ``perfbench.worker``; returns (setup seconds, output dict, peak KiB)."""
    proc = Proc(["-m", "perfbench.worker", *args], log, sample_rss)
    ready = proc.readline()
    setup_s = time.monotonic() - proc.t0 if ready == "READY" else None
    code, lines = proc.finish(deadline)
    out = last_json(lines)
    if code != 0 or setup_s is None or out is None:
        sys.stderr.write(f"perfbench: worker {args} failed (exit {code}); see {log}\n")
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        sys.exit(1)
    return setup_s, out, proc.peak_rss_kb


def ensure_inputs(log: str, deadline: float) -> None:
    """Generate, in one process, the inputs of every workload that lacks
    them for the current ``datagen`` fingerprint."""
    missing = [w.name for w in WORKLOADS.values()
               if not os.path.exists(os.path.join(input_dir(ROOT, w), "schemas.json"))]
    if not missing:
        return
    proc = Proc(["-m", "perfbench.gen", "--workload", *missing], log)
    code, _ = proc.finish(deadline)
    if code != 0:
        sys.stderr.write(f"perfbench: input generation failed (exit {code}); see {log}\n")
        sys.exit(1)


def warm_page_cache(path: str) -> None:
    """Read a window's input files once, untimed, so the first validation
    does not depend on what the page cache happens to hold."""
    for dirpath, _, files in os.walk(path):
        for name in files:
            with open(os.path.join(dirpath, name), "rb") as f:
                while f.read(1 << 20):
                    pass


def host_record() -> dict:
    """Boot identity, the host fit, and a speed calibration of this boot
    (the VM's speed moves across reboots), measured once per boot and
    cached: at about 2 s it would cost every run a share of the pass's
    time budget. The speed also drifts within a boot (calibrations of 0.55
    to 0.85 s were seen in one), which the cached value does not show."""
    import bench

    rec = bench.boot_identity()
    path = os.path.join(ROOT, CACHE_DIR, f"calib-{rec.get('boot_id', 'unknown')}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump({"calib_sec": bench.calibration_score()}, f)
    with open(path) as f:
        rec.update(json.load(f))
    rec.update({"driver_mem": DRIVER_MEM, "master": f"local[{cores()}]",
                "spark_local_dirs": os.path.join(CACHE_DIR, "spark-local")})
    return rec


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(workload, w: int, logs: str, deadline: float):
    setup_s, out, peak_kb = worker(
        ["--mode", "e2e", "--workload", workload.name, "--window", str(w)],
        f"{logs}/e2e.log", deadline, sample_rss=True)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "cold_wall_s": metric(out["cold_wall_s"], "s"),
        "peak_rss_mb": metric(peak_kb / 1024, "MB"),
    }
    # Throughput is rows / cold_wall_s: kept in the run record, not as a
    # second bounded metric that would only restate cold_wall_s.
    out.update({"setup_s": setup_s, "clips_per_s": out["rows"] / out["cold_wall_s"]})
    return metrics, out


LAYER_UNITS = {"bytes": "bytes", "rows_per_s": "1/s", "jobs": "count", "stages": "count",
               "rows_rescanned": "count", "rows": "count", "keys": "count"}


def per_layer(workload, w: int, logs: str, deadline: float):
    _, out, _ = worker(["--mode", "trace", "--workload", workload.name, "--window", str(w)],
                       f"{logs}/trace.log", deadline)
    metrics = {}
    for name, value in out.items():
        if name in ("attempted", "failed", "problems"):
            continue
        suffix = name.rsplit(".", 1)[1]
        unit = next((u for k, u in LAYER_UNITS.items() if suffix.endswith(k)), "s")
        metrics[name] = metric(value, unit)
    return metrics, out


def pin(logs: str) -> None:
    """Re-record expected.json from the current code (every window)."""
    path = os.path.join(ROOT, "perfbench", "expected.json")
    pinned = {}
    ensure_inputs(f"{logs}/gen.log", time.monotonic() + 1800)
    for workload in WORKLOADS.values():
        _, out, _ = worker(["--mode", "pin", "--workload", workload.name],
                           f"{logs}/pin-{workload.name}.log", time.monotonic() + 1800)
        pinned[workload.name] = out
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    print(path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0,
                    help="recorded only: a run times one set-up and one validation")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true", help="re-record expected.json")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: run from the repository root; missing {missing}\n")
        return 2
    logs = os.path.join(ROOT, CACHE_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    if args.pin:
        pin(logs)
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    started = time.monotonic()
    workload = WORKLOADS[args.workload]
    w = window(args.seed)
    # The first run in a fresh checkout generates the inputs of every
    # workload, so no later run pays generation; it has its own allowance
    # and the measured part keeps RUN_LIMIT_S.
    ensure_inputs(f"{logs}/gen.log", time.monotonic() + 840)
    host = host_record()
    warm_page_cache(window_dir(ROOT, workload, w))
    deadline = time.monotonic() + RUN_LIMIT_S
    tag = f"{workload.name}-s{args.seed}-t{args.trace}"
    run_logs = os.path.join(logs, tag)
    os.makedirs(run_logs, exist_ok=True)
    if args.trace:
        metrics, out = per_layer(workload, w, run_logs, deadline)
    else:
        metrics, out = end_to_end(workload, w, run_logs, deadline)

    record = {"workload": workload.name, "seed": args.seed, "window": w, "trace": args.trace,
              "seconds": args.seconds, "rows": workload.rows, "host": host, "raw": out,
              "run_s": time.monotonic() - started,
              "fail_ratio": fail_ratio(out["failed"], out["attempted"])}
    print(json.dumps(record))
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
