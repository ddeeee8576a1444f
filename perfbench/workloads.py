"""Workload definitions shared by the generator, the worker and the runner.

Every workload validates a deterministic ``datagen`` table. The seed picks
one of ``WINDOWS`` row-id windows ``[w * rows, (w + 1) * rows)``; window 0
is exactly the documented fixture (``clips_df(rows)``), so seed 0 at 20k
PCM clips reproduces the 987-violation sentinel.

This module imports no Spark code at module level: the runner imports it to
resolve paths before any JVM exists.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

WINDOWS = 8
RUN_TS = "2026-01-01 00:00:00"
CACHE_DIR = ".perfbench_cache"

# Host fit, passed explicitly to every Spark process the benchmark starts
# (the library default heap does not fit small hosts, and the parent commit
# and the change must run the same heap). Cores follow the host.
DRIVER_MEM = "2g"

# Rules that read the binary payload or the features the wide pass derives
# from it; meta_keys drops them because its table has no ``bytes`` column.
PAYLOAD_RULE_PREFIXES = ("PCM_SNR", "BYTES_", "AUDIO_")


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    with_bytes: bool
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "pcm_full", 20_000, True,
            "PCM clips through the full 26-rule catalog: the mapInPandas wide "
            "pass runs, so an operators.audio change shows here",
        ),
        Workload(
            "meta_keys", 50_000, False,
            "bytes-free metadata under the 20 non-payload rules: the wide pass "
            "is bypassed, so row rules, uniqueness and the transcript join dominate",
        ),
    )
}

BYTES_CAP_MS = 50


def window(seed: int) -> int:
    return seed % WINDOWS


def cores() -> int:
    return os.cpu_count() or 1


def fingerprint(root: str, workload: Workload) -> str:
    """Cache key: generator source + workload shape. A datagen edit makes a
    new key, so stale inputs are never measured."""
    h = hashlib.md5()
    with open(os.path.join(root, "data_check_spark", "datagen.py"), "rb") as f:
        h.update(f.read())
    h.update(f"{workload.name}:{workload.rows}:{workload.with_bytes}:"
             f"{BYTES_CAP_MS}:{WINDOWS}".encode())
    return h.hexdigest()[:12]


def input_dir(root: str, workload: Workload) -> str:
    return os.path.join(root, CACHE_DIR, "inputs", workload.name, fingerprint(root, workload))


def window_dir(root: str, workload: Workload, w: int) -> str:
    return os.path.join(input_dir(root, workload), f"w{w}")


def catalog(workload: Workload):
    """The rule catalog a workload validates against."""
    from data_check_spark.rules.catalog_audio import audio_catalog
    from data_check_spark.rules.spec import RuleCatalog

    full = audio_catalog(bytes_cap_ms=BYTES_CAP_MS)
    if workload.with_bytes:
        return full
    return RuleCatalog([r for r in full if not r.rule_id.startswith(PAYLOAD_RULE_PREFIXES)])
