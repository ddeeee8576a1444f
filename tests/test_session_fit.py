"""Host fit of the local driver session: pure sizing, no JVM started."""

import pytest

from data_check_spark.session import host_fit

GIB = 1024


def _heap_mb(driver_conf: dict[str, str]) -> int:
    heap = driver_conf["spark.driver.memory"]
    assert heap.endswith("m")
    return int(heap[:-1])


def test_heap_capped_at_16g():
    _, conf = host_fit(512 * GIB, 64, {})
    assert conf["spark.driver.memory"] == "16384m"


def test_heap_leaves_os_and_worker_reserve():
    # 4 cores / 15.7 GiB, the 1M-clip bench's measured footprint beside the
    # heap: ~1.7 GB JVM off-heap and 10 Python processes at ~100 MB. All
    # of it stays within 3/4 of RAM, the rest left to the OS and page cache.
    mem = 16093
    cores, conf = host_fit(mem, 4, {})
    assert cores == 4
    heap = _heap_mb(conf)
    assert heap + 1700 + 10 * 100 <= mem * 3 // 4
    assert heap >= 8 * GIB  # the heap the full suite is known to need


def test_small_host_keeps_a_floor():
    _, conf = host_fit(1 * GIB, 4, {})
    assert _heap_mb(conf) == 512


def test_env_overrides_cores_and_heap():
    cores, conf = host_fit(16093, 4, {"SPARK_GRAFT_CPUS": "2",
                                      "SPARK_GRAFT_DRIVER_MEM": "2g"})
    assert cores == 2
    assert conf["spark.driver.memory"] == "2g"


@pytest.mark.parametrize("mem", ["16g", "20000m", "1t"])
def test_oversized_heap_fails_before_launch(mem):
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        host_fit(16093, 4, {"SPARK_GRAFT_DRIVER_MEM": mem})


def test_unitless_heap_rejected():
    # Spark reads a bare number as MiB but the JVM's -Xms reads bytes.
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        host_fit(16093, 4, {"SPARK_GRAFT_DRIVER_MEM": "2048"})


@pytest.mark.parametrize("env", [{}, {"SPARK_GRAFT_DRIVER_MEM": "2g"}])
def test_java_options_pin_heap_without_pretouch(env):
    _, conf = host_fit(16093, 4, env)
    opts = conf["spark.driver.extraJavaOptions"].split()
    assert f"-Xms{conf['spark.driver.memory']}" in opts
    assert "-XX:+UseParallelGC" in opts
    assert not any("AlwaysPreTouch" in o for o in opts)
