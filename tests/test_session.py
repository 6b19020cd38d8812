"""Driver-heap derivation in session.get_spark, checked without a JVM."""

import re

import pytest

from codeontology_spark.session import default_heap, heap_conf

GB_KB = 1024 * 1024  # kB in one GiB


def _mb(size: str) -> int:
    n, unit = re.fullmatch(r"(\d+)([mg])", size).groups()
    return int(n) * (1024 if unit == "g" else 1)


def _xms(conf: dict) -> str:
    return re.search(r"-Xms(\S+)", conf["spark.driver.extraJavaOptions"]).group(1)


def test_small_host_gets_at_most_60_percent():
    mem_kb = 16_456_384  # MemTotal of a 4-core, 15.7 GB host
    heap = default_heap(mem_kb)
    assert _mb(heap) <= 0.6 * mem_kb / 1024
    assert _mb(heap) < 20 * 1024


def test_large_host_keeps_20g():
    conf = heap_conf(64 * GB_KB, env={})
    assert conf["spark.driver.memory"] == "20g"
    assert _xms(conf) == "20g"
    assert "-XX:+UseParallelGC -XX:+AlwaysPreTouch" in conf["spark.driver.extraJavaOptions"]


def test_unknown_mem_total_keeps_20g():
    assert default_heap(None) == "20g"


def test_override_wins_and_xms_matches():
    conf = heap_conf(64 * GB_KB, env={"SPARK_DRIVER_MEM": "3g"})
    assert conf == {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:+AlwaysPreTouch -Xms3g",
    }
    conf = heap_conf(16_456_384, env={})
    assert _xms(conf) == conf["spark.driver.memory"]
    # a bare number is MiB to Spark but bytes to -Xms: both get the unit
    conf = heap_conf(16_456_384, env={"SPARK_DRIVER_MEM": "4096"})
    assert conf["spark.driver.memory"] == _xms(conf) == "4096m"


@pytest.mark.parametrize("override", ["20g", "16385m", "17000000k"])
def test_heap_above_mem_total_raises_naming_both(override):
    mem_kb = 16 * GB_KB
    with pytest.raises(ValueError) as exc:
        heap_conf(mem_kb, env={"SPARK_DRIVER_MEM": override})
    assert override in str(exc.value) and str(mem_kb) in str(exc.value)
    assert heap_conf(mem_kb, env={"SPARK_DRIVER_MEM": "16g"})["spark.driver.memory"] == "16g"
