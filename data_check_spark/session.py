"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not 200), AQE on (runtime coalescing + skew-join
splitting), Arrow on for pandas UDFs, UTC session timezone so results are
comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).

At cluster scale the same builder is used by ``spark-submit --py-files``;
only ``master`` and the memory/shuffle knobs change via ``--conf``.
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping

from pyspark.sql import SparkSession

# Scale-oriented defaults. On a real 1000-executor cluster the shuffle
# partition count is sized to ~2-3x total cores via --conf; AQE coalesces
# down at runtime so over-provisioning is safe, under-provisioning is not.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Without this, materializing a cached plan compiles WITHOUT AQE and
    # loses runtime broadcast/skew conversions — measured 5x slower on the
    # validation union (persist+count 170s vs 33s plain).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    # MIN/MAX/COUNT of raw columns over a plain parquet scan answer from
    # footer statistics instead of reading data (metadata-only aggregates).
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batches for pandas UDFs: large enough to amortize the per-batch
    # python round-trip; 8192 rows of ~5KB capped PCM ≈ 40MB per batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # Python workers: keep allocator memory resident (no trim, no mmap for
    # big buffers, Arrow through system malloc). Repeated mmap/munmap of
    # Arrow batch buffers re-faults pages continuously; in a VM that first-
    # touch cost dominated the UDF stage at high parallelism (measured 27s
    # vs 5.8s for the identical 1M-row pass once workers stop churning).
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "1073741824",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "2147483647",
    "spark.executorEnv.MALLOC_ARENA_MAX": "2",
    "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL": "system",
    "spark.ui.enabled": "false",
}


# Local-mode host fit. Spark's hardware-provisioning guide gives Spark at
# most 75% of RAM and leaves the rest to the OS and page cache. Out of that
# share come the JVM's off-heap memory (direct buffers, metaspace, code
# cache, thread stacks: measured ~1.7 GB at 1M clips on local[4], with both
# an 8g and an 11g heap) and the Python workers (~100 MB each at 1M clips).
# Polling the PySpark daemon's children through one cold perfbench
# validation (20k and 50k clips, local[4]) counts at most one worker per
# task thread: 4, down from 8 once the literal tables stopped scanning a
# Python RDD. The reserve still counts 2 per task thread plus the driver
# and the daemon (10 at local[4]) until a 1M-clip run re-measures it.
# The driver heap gets the rest, capped at 16g.
_HEAP_CAP_MB = 16 * 1024
_HEAP_FLOOR_MB = 512
_JVM_OFF_HEAP_MB = 2048
_PY_WORKER_MB = 96
_MEM_UNITS_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def host_mem_total_mb() -> int:
    """Physical RAM of this host in MiB (``MemTotal`` of /proc/meminfo)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise OSError("no MemTotal in /proc/meminfo")


def host_cores() -> int:
    """Cores this process may run on (its affinity mask, not the host's)."""
    return len(os.sched_getaffinity(0))


def host_fit(
    mem_total_mb: int, cores: int, env: Mapping[str, str]
) -> tuple[int, dict[str, str]]:
    """``(local core count, driver conf)`` for a host with ``mem_total_mb``
    MiB of RAM and ``cores`` usable cores.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` in ``env`` override
    the derived values; a requested heap larger than physical RAM raises
    ``ValueError`` here instead of letting the JVM die at launch.

    ``-Xms`` = ``-Xmx`` and ParallelGC (which never uncommits) keep the heap
    one fixed reservation: a growing or shrinking heap re-faults pages
    continuously, and with 32 task threads in ONE process that fault storm
    serialized on mmap_lock (measured ~1.1M faults/sec, 80% sys time, 4x
    slower at local[32] than local[8]). Pages are not pre-touched: each
    faults once, on first use, so resident memory follows the heap the run
    actually uses (a 20k-clip validation uses under 100 MB of its 1.3 GB
    old generation).
    """
    n = int(env.get("SPARK_GRAFT_CPUS") or cores)
    heap = env.get("SPARK_GRAFT_DRIVER_MEM")
    if heap:
        m = re.fullmatch(r"(\d+)([kmgt])", heap.strip().lower())
        if m is None:
            raise ValueError(
                f"SPARK_GRAFT_DRIVER_MEM={heap!r}: expected a JVM size such "
                "as 8g or 4096m")
        if int(m.group(1)) * _MEM_UNITS_MB[m.group(2)] > mem_total_mb:
            raise ValueError(
                f"SPARK_GRAFT_DRIVER_MEM={heap} exceeds this host's "
                f"{mem_total_mb} MiB of physical memory; lower it or unset "
                "it to size the heap from the host")
    else:
        spark_share = mem_total_mb * 3 // 4 - _JVM_OFF_HEAP_MB - (2 * n + 2) * _PY_WORKER_MB
        mb = min(_HEAP_CAP_MB, spark_share)
        heap = f"{max(mb, _HEAP_FLOOR_MB)}m"
    return n, {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+UseParallelGC",
    }


def get_spark(
    app_name: str = "data_check_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, else to the cores
    this process may run on; a local driver's heap is
    ``$SPARK_GRAFT_DRIVER_MEM``, else sized from physical RAM (``host_fit``).
    ``shuffle_partitions`` defaults to the local core count so small-scale
    runs don't over-parallelize; cluster runs override via --conf.
    """
    # Builder options beat spark-submit's --master/--conf, so a submitted
    # master (yarn/k8s) must NOT be overridden by the local default, and
    # submitted --conf values must win over this module's defaults.
    from pyspark import SparkConf

    submit_conf = dict(SparkConf().getAll())
    conf = dict(_BASE_CONF)
    master = master or submit_conf.get("spark.master")
    if master is None or master.startswith("local"):
        cpus, driver_conf = host_fit(host_mem_total_mb(), host_cores(), os.environ)
        master = master or f"local[{cpus}]"
        conf.update(driver_conf)
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" not in submit_conf:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = max(host_cores() if inner == "*" else int(inner), 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in conf.items():
        # A spark-submit --conf for the same key wins over this module's defaults.
        if k in submit_conf:
            continue
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
