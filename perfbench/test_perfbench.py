"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q                # everything (~4 min)
    python3 -m pytest perfbench -q -m "not smoke"  # arithmetic only

The smoke tests start Spark through ``perfbench/run.py`` exactly as a
benchmark run does, so they need the repository root as working directory.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

from perfbench.stats import Tally, fail_ratio, layer_gap, median, quartile_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_matches_statistics_quantiles():
    xs = [9.8, 10.1, 10.0, 10.4, 9.9, 10.2, 10.0, 10.3, 9.7, 10.1]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert quartile_spread([5.0] * 10) == 0.0


def test_tampered_multiset_counts_as_failure():
    expected = {"violations": 987, "hash": "123", "verdict_hash": "456"}
    tally = Tally()
    assert tally.record(dict(expected), expected, "ok")
    tampered = dict(expected, hash="124")  # same count, different rows
    assert not tally.record(tampered, expected, "tampered")
    assert not tally.record(None, expected, "raised")
    assert (tally.attempted, tally.failed) == (3, 2)
    assert fail_ratio(tally.failed, tally.attempted) == pytest.approx(2 / 3)
    assert fail_ratio(0, 0) == 1.0
    assert tally.problems == ["tampered: hash", "raised: raised"]


def test_extra_observed_keys_are_not_compared():
    tally = Tally()
    assert tally.record({"violations": 1, "key_hash": "k", "hash": "x"},
                        {"violations": 1, "key_hash": "k"}, "batched")
    assert (tally.attempted, tally.failed) == (1, 0)


def test_layer_gap_is_wall_minus_layer_sum():
    assert layer_gap(10.0, {"a": 4.0, "b": 3.5}) == pytest.approx(2.5)
    assert layer_gap(5.0, {"a": 4.0, "b": 3.0}) == pytest.approx(-2.0)
    assert layer_gap(5.0, {}) == 5.0


def test_seed_zero_pins_the_documented_sentinel():
    with open(os.path.join(HERE, "expected.json")) as f:
        pinned = json.load(f)
    assert pinned["pcm_full"]["0"]["violations"] == 987


def test_benchmark_json_names_are_unique():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in bench[key]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_refuses_to_run_outside_a_repository(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pcm_full", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _metric_names(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.smoke
@pytest.mark.parametrize("workload", ["pcm_full", "meta_keys"])
def test_smoke_end_to_end(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] == 1
    assert set(out["metrics"]) == _metric_names("end_to_end")


@pytest.mark.smoke
def test_smoke_traced_pcm_full():
    out = _run("pcm_full", 1)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == _metric_names("per_layer")
