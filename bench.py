"""Bench harness: one JSON line with the headline metric + per-query secs.

Headline: validated clips/sec — the full audio rule-set pass (row-local
single-pass rules, two-phase uniqueness, referential joins, t-digest drift,
pandas-UDF PCM SNR) over a deterministic synthetic clip table at the scale
factor implied by $SPARK_GRAFT_SF_DIR (BASELINE.json north-star metric,
SF=0.1 → 1M clips).

The clip table (+ transcript dim + baseline sketch snapshot) is generated
once into .bench_cache/ parquet so the measured section is exactly
"read parquet → validate" — the shape the 100 TB deployment has. Secondary
timings cover the oracle-checked TPC-H-ish queries at the same sf dir.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the cores this process may run on),
     SPARK_GRAFT_DRIVER_MEM (default: sized from physical RAM, session.py),
     BENCH_CLIP_ROWS (override clip-row count),
     BENCH_SKIP_QUERIES=1 (headline only).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# The bench times Spark plans only — it never runs the DuckDB oracles, so
# the oracle-path coupling guard in scan_pruning_lineitem (whose oracle
# pins a literal sf0.01 parquet_metadata path) must not refuse non-sf0.01
# sweeps. Attesting here is safe by construction: no comparison happens.
os.environ.setdefault("DATA_CHECK_ORACLE_PATH_TEMPLATED", "1")

BYTES_CAP_MS = 50
GEN_PARTITIONS = 128  # balanced input splits; >= 4x max bench parallelism

BENCH_QUERIES = [
    # rule-engine / TPC-H-ish coverage
    "row_rules_orders",
    "dup_values_lineitem",
    "dup_rows_orders",
    "semi_anti_customers",
    "q1_pricing_summary",
    "region_revenue",
    "latest_event_per_user",
    "events_daily",
    "date_parse_orders",
    "sessionize_events",
    "asof_latest_order_per_event",
    "range_join_repeat_orders",
    # LLM-pipeline operators (dedup / text) so regressions in
    # them are visible round-over-round in BENCH_r{N}.json
    "dedup_exact_documents",
    "incremental_dedup_documents",
    "span_dedup_documents",
    "minhash_near_dup_documents",
    "simhash_near_dup_documents",
    "token_stats_documents",
    "quality_score_documents",
    "lang_id_documents",
    "skew_report_orders",
    "heavy_hitters_orders",
    "bloom_semi_lineitem",
    "sequence_gaps_orders",
    "unigram_rarity_documents",
    "bigram_coherence_documents",
    "vocab_coverage_documents",
    "chunk_documents_corpus",
    "top_bigrams_documents",
    "extraction_quality_documents",
    "corpus_rules_documents",
    "agg_sla_orders",
    "daily_volume_anomaly_events",
    "top_terms_documents",
    "snapshot_diff_orders",
    "null_correlation_orders",
    "token_drift_documents",
    "func_dep_lineitem",
    "summary_regression_orders",
    "clips_validate_portable",
    "corpus_curation_documents",
    # transcript QA (round 2, session 7)
    "transcript_wer_documents",
    "normalize_width_documents",
    # profiling / drift family (round 2)
    "column_stats_orders",
    "numeric_quantiles_lineitem",
    "quantile_drift_lineitem",
    "iqr_outliers_events",
    "categorical_drift_orders",
    "rate_drift_orders",
    "volume_drift_orders",
    "quarantine_clean_orders",
    "events_hourly_rolling",
    "rolling_hash_documents",
    # late round-2 additions
    "reconcile_orders_lineitem",
    "out_of_order_events",
    "benford_orders",
    "label_conflict_documents",
    "freshness_events",
    "calendar_gaps_events",
    "format_masks_customer",
    "cardinality_orders_lineitem",
    "watermark_plan_events",
    "novelty_rate_events",
    "lang_mismatch_documents",
    "violation_delta_orders",
    "correlation_lineitem",
    # round 3
    "rule_suggestions_orders",
    "partition_profile_orders",
    "clips_validate_batched",
    "scan_pruning_lineitem",
    # round 5: streaming surface replayed to completion (availableNow)
    "streaming_dedup_events",
    "streaming_window_counts_events",
    "streaming_row_rules_events",
    "streaming_sessions_events",
]


# Calibration reference: calibration_score() measured on the host/boot that
# recorded the round-3 BASELINE.md numbers. value_calib_normalized =
# value * (CALIB_REF_SEC / calib_sec) rescales a headline onto that boot's
# speed (a slower boot has calib_sec > ref, so its wall time is scaled DOWN
# toward the reference boot) so cross-boot comparisons (this VM re-clocks
# ~1.4x across reboots, see CLAUDE.md) are arithmetic instead of prose.
CALIB_REF_SEC = 0.42


def calibration_score() -> float:
    """~2s fixed-work probe of this boot's effective speed.

    Two legs, matching the two things that actually drift on this
    Firecracker host: (1) first-touch page faults — fresh 1 MiB buffers,
    one write per 4 KiB page, 768 MiB total (the guest fault path is the
    documented ~1.4x cross-boot variance source); (2) a fixed CPython
    integer loop (clock/steal probe). Single-threaded and allocation-fresh
    every call, so the number is comparable across boots and across
    processes regardless of malloc tuning env vars. Best-of-3 passes
    (~2s total), same rationale as the bench repeats."""
    one = b"\x01" * 256
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        for _ in range(1536):
            buf = bytearray(1 << 20)
            buf[0::4096] = one  # touch all 256 pages
        x = 0
        for i in range(4_000_000):
            x = (x * 1103515245 + i) & 0xFFFFFFFFFFFF
        best = min(best, time.monotonic() - t0)
    return best


def boot_identity() -> dict:
    """boot_id + uptime so every bench line is attributable to a boot."""
    out: dict[str, object] = {}
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            out["boot_id"] = f.read().strip()
        with open("/proc/uptime") as f:
            out["uptime_sec"] = round(float(f.read().split()[0]), 1)
    except OSError:
        pass
    return out


def clip_cache_dir(n_rows: int) -> str:
    return os.path.join(REPO, ".bench_cache", f"clips_{n_rows}")


def _datagen_fingerprint() -> str:
    import hashlib

    src = os.path.join(REPO, "data_check_spark", "datagen.py")
    with open(src, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def ensure_clip_cache(spark, n_rows: int) -> tuple[str, bool]:
    """Generate (once) the synthetic clip table + dims as parquet.

    The marker embeds a datagen.py fingerprint so generator edits invalidate
    the cache instead of silently benchmarking stale data. Returns
    ``(root, generated)`` — callers MUST NOT measure in a JVM that just ran
    generation (measured 2x the steady-state wall on this host: generation
    churns the heap and dirties the page cache, and the damage survives
    warmup); main() re-execs into a fresh process on a cache miss."""
    from pyspark.sql import functions as F

    from data_check_spark import datagen
    from data_check_spark.operators.drift import make_baseline

    root = clip_cache_dir(n_rows)
    marker = os.path.join(root, "_DONE")
    stamp = f"{n_rows}:{BYTES_CAP_MS}:{GEN_PARTITIONS}:{_datagen_fingerprint()}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return root, False
    clips = (
        datagen.clips_df(spark, n_rows, with_bytes=True, bytes_cap_ms=BYTES_CAP_MS)
        .drop("_gen_id", "_viol")
        .repartition(GEN_PARTITIONS)
    )
    clips.write.mode("overwrite").parquet(f"{root}/clips")
    datagen.transcripts_df(spark, n_rows).write.mode("overwrite").parquet(f"{root}/transcripts")
    clean = datagen.clips_df(spark, n_rows, with_bytes=False).drop("_gen_id", "_viol").filter(
        ~F.col("partition").isin(*sorted(datagen.DRIFT_PARTITIONS))
    )
    make_baseline(spark, clean, ["dur_ms", "sr_hz"]).write.mode("overwrite").parquet(
        f"{root}/baseline_stats"
    )
    with open(marker, "w") as f:
        f.write(stamp)
    return root, True


def warmup(spark, root: str) -> None:
    """Untimed warm-up: JIT, python workers, and — critical in this
    sandbox — first-touch allocation of the JVM direct/python memory
    footprint (a fresh microVM charges ~4x for the first GBs touched;
    production executors are long-lived, so the measured section models the
    steady state). Runs the full pipeline once on a small slice."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.catalog_audio import audio_catalog

    # sample() (not limit) so every input partition contributes tasks and
    # all workers/allocators get touched. Default is a FULL untimed pass:
    # measured on this host, a 25% warm-up leaves the first timed run
    # ~2x the steady state (first-touch page faults on the remaining
    # footprint) — the warm-up must touch everything the timed run will.
    frac = float(os.environ.get("BENCH_WARMUP_FRAC", "1.0"))
    clips = spark.read.parquet(f"{root}/clips")
    transcripts = spark.read.parquet(f"{root}/transcripts")
    if frac < 1.0:
        clips = clips.sample(frac, seed=1)
        transcripts = transcripts.sample(frac, seed=1)
    dims = {
        "transcripts": transcripts,
        "baseline_stats": spark.read.parquet(f"{root}/baseline_stats"),
    }
    res = run_validation(spark, clips, dims, audio_catalog(bytes_cap_ms=BYTES_CAP_MS),
                         run_ts="2026-01-01 00:00:00")
    res.violations.count()


def run_clip_validation(spark, root: str) -> dict:
    """The measured section: read parquet -> full rule-set validation."""
    from data_check_spark.engine import run_validation
    from data_check_spark.rules.catalog_audio import audio_catalog

    clips = spark.read.parquet(f"{root}/clips")
    dims = {
        "transcripts": spark.read.parquet(f"{root}/transcripts"),
        "baseline_stats": spark.read.parquet(f"{root}/baseline_stats"),
    }
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    res = run_validation(
        spark, clips, dims, audio_catalog(bytes_cap_ms=BYTES_CAP_MS),
        run_ts="2026-01-01 00:00:00",
    )
    # ONE action materializes the result: count + an order-insensitive
    # multiset hash of the violation rows, so parallelism-level comparisons
    # (tools/scaling_bench.py) check the actual violation SET, not just its
    # size. Decimal sum: ~2^20 64-bit terms can overflow long under ANSI.
    agg = res.violations.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64("rule_id", "clip_id", "partition", "observed").cast("decimal(38,0)")
        ).alias("h"),
    ).first()
    wall = time.monotonic() - t0
    return {
        "wall_sec": wall,
        "rows": res.rows_scanned,
        "violations": agg["n"],
        "violations_hash": str(agg["h"]),
        "clips_per_sec": res.rows_scanned / wall if wall > 0 else 0.0,
    }


def _unpersist_except(spark, keep: frozenset[int]) -> None:
    """Free cached/localCheckpoint blocks leaked by finished work.

    Most operators materialize intermediates via localCheckpoint (AQE-safe
    caching, per CLAUDE.md); a completed query never touches those blocks
    again, but the JVM keeps them until the session dies. Inside a 122-query
    sweep that churn measured 5-7x inflation on later similarity queries.
    Only the ``keep`` ids survive — unpersisting a localCheckpointed RDD
    that might still be consumed would be data loss, so callers must keep
    anything cross-query."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for entry in list(jmap.entrySet().toArray()):
        if int(entry.getKey()) not in keep:
            entry.getValue().unpersist(False)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from data_check_spark.session import get_spark, host_cores

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))

    n_rows = int(os.environ.get("BENCH_CLIP_ROWS", "0")) or max(int(sf * 10_000_000), 10_000)
    root, generated = ensure_clip_cache(spark, n_rows)
    if generated and os.environ.get("BENCH_REEXEC") != "1":
        # Never measure in the JVM that just generated the cache: the
        # generation pass churns the heap and page cache and the first
        # timed runs land ~2x steady state on this host (measured 31.7s vs
        # 14.6s for the identical 1M-clip validation). Re-exec into a
        # fresh process; the cache now hits, so this happens at most once.
        spark.stop()
        env = dict(os.environ, BENCH_REEXEC="1")
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)], env)
    if os.environ.get("BENCH_SKIP_WARMUP") != "1":
        warmup(spark, root)
    # Steady-state measurement: repeat in-process and take the best run —
    # models a long-lived executor; every run's wall time is reported.
    # Best-of-6: on a freshly booted microVM the first repeats keep paying
    # first-touch page faults and improve monotonically for several runs
    # (measured 30.7 -> 20.8s across 4 repeats after a host reboot); two
    # extra repeats let the recorded best reflect steady state, which is
    # what long-lived cluster executors see.
    repeats = int(os.environ.get("BENCH_REPEATS", "6"))
    runs = []
    for _ in range(repeats):
        runs.append(run_clip_validation(spark, root))
        # Each full validation leaves its violations/verdicts localCheckpoint
        # blocks pinned in the heap; six accumulated runs' worth measurably
        # pressures the later (best) repeats. Free them between runs — a
        # long-lived production executor validates ONE run at a time.
        _unpersist_except(spark, frozenset())
    headline = min(runs, key=lambda r: r["wall_sec"])

    query_secs: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}
    if os.environ.get("BENCH_SKIP_QUERIES") != "1":
        from data_check_spark.queries import QUERIES

        # Every repeat is recorded (query_runs), not just the best, and the
        # blocks each query leaks (and the engine headline's) are freed
        # before the next one, so no query pays for an earlier one's heap.
        _unpersist_except(spark, frozenset())

        # Best-of-N per query (CLAUDE.md: never single-run on this host —
        # round-over-round comparisons of single runs are machine noise).
        q_reps = int(os.environ.get("BENCH_QUERY_REPEATS", "2"))
        for name in BENCH_QUERIES:
            runs_q: list[float] = []
            for _ in range(q_reps):
                t0 = time.monotonic()
                QUERIES[name](spark, sf_dir).count()
                runs_q.append(round(time.monotonic() - t0, 3))
                _unpersist_except(spark, frozenset())
            query_runs[name] = runs_q
            query_secs[name] = min(runs_q)
    query_secs["clip_validation_full"] = round(headline["wall_sec"], 3)

    out = {
        "metric": "full_rule_set_validation_wall_sec",
        "value": round(headline["wall_sec"], 3),
        "unit": "sec",
        "queries": query_secs,
        "sf": sf,
        "clips_per_sec": round(headline["clips_per_sec"], 1),
        "clip_rows": headline["rows"],
        "violations": headline["violations"],
        "violations_hash": headline["violations_hash"],
        "all_runs_sec": [round(r["wall_sec"], 3) for r in runs],
        "query_runs": query_runs,
        "cpus": cpus,
    }
    spark.stop()
    # Boot attribution + calibration AFTER the measured section (the probe
    # itself page-faults ~768 MiB; running it first would pre-warm part of
    # the footprint the warmup is supposed to pay for). calib_sec > ref
    # means this boot is slower than the BASELINE.md recording boot, and
    # value_calib_normalized rescales the headline onto that boot.
    calib = calibration_score()
    out.update(boot_identity())
    out["calib_sec"] = round(calib, 3)
    out["calib_ref_sec"] = CALIB_REF_SEC
    out["value_calib_normalized"] = round(
        out["value"] * (CALIB_REF_SEC / calib), 3
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
