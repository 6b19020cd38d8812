"""SparkSession factory tuned for the KG-construction workload.

Local-mode testing uses ``local[N]``; the same configuration object is what
a ``spark-submit`` deployment would ship (AQE + skew-join splitting for the
linking shuffle, Arrow for the extraction UDF boundary).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Default driver heap: min(20g, 60% of MemTotal). 20g is the cap the
# emission runs were tuned with; the heap is pre-touched (below), so it must
# fit in physical memory, and 60% leaves the rest for the nproc Python
# workers, their Arrow batches and the OS. Measured on a 4-core host with
# MemTotal 16,456,384 kB: a 20g pre-touched heap fails at JVM start ("Native
# memory allocation (mmap) failed to map 21474836480 bytes"), while the
# derived 9642m runs the test suite. Hosts with MemTotal >= ~34 GB keep 20g.
# SPARK_DRIVER_MEM overrides the default.
_HEAP_CAP_MB = 20 * 1024
_HEAP_SHARE = 0.6
_SIZE_RE = re.compile(r"(\d+)([kmgt])", re.IGNORECASE)
_UNIT_BYTES = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def mem_total_kb() -> int | None:
    """MemTotal of this host in kB (from /proc/meminfo), or None where it
    cannot be read."""
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def default_heap(mem_kb: int | None) -> str:
    """min(20g, 60% of MemTotal) as a JVM size; 20g where MemTotal is
    unknown."""
    if mem_kb is None:
        return "20g"
    mb = int(mem_kb * _HEAP_SHARE) // 1024
    return "20g" if mb >= _HEAP_CAP_MB else f"{mb}m"


def _size_bytes(size: str) -> int:
    """Bytes in a heap size that both spark.driver.memory and -Xms accept
    (512m, 4g)."""
    m = _SIZE_RE.fullmatch(size.strip())
    if not m:
        raise ValueError(f"driver heap {size!r} is not a memory size like 512m or 4g")
    return int(m.group(1)) * _UNIT_BYTES[m.group(2).lower()]


def heap_conf(mem_kb: int | None, env=os.environ) -> dict[str, str]:
    """Driver heap settings: one size for both spark.driver.memory (-Xmx)
    and -Xms, so the pre-touched heap is fixed. SPARK_DRIVER_MEM in `env`
    wins over default_heap(mem_kb). Raises ValueError, before any JVM
    starts, where the heap exceeds MemTotal."""
    heap = env.get("SPARK_DRIVER_MEM") or default_heap(mem_kb)
    if heap.isdigit():  # Spark reads a bare number as MiB, -Xms as bytes
        heap += "m"
    if mem_kb is not None and _size_bytes(heap) > mem_kb * 1024:
        raise ValueError(
            f"driver heap {heap} exceeds this host's MemTotal of {mem_kb} kB "
            f"({mem_kb // 1024}m) and is pre-touched at JVM start; lower "
            f"SPARK_DRIVER_MEM (the default here is {default_heap(mem_kb)})"
        )
    # fixed pre-touched heap + throughput GC: G1 with an elastic heap
    # spends most of its time in kernel page commit/uncommit churn on
    # a virtualized host (observed: 24% sys, executors at 33% CPU,
    # 40x slowdown); Xms=Xmx + AlwaysPreTouch + ParallelGC makes heavy
    # emission runs stable (831s -> ~20s on a 650k-file corpus)
    return {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions":
            "-XX:+UseParallelGC -XX:+AlwaysPreTouch -Xms" + heap,
    }


def get_spark(
    app_name: str = "codeontology-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to the parallelism
    level so small/medium local runs don't fan out into 200 empty tasks;
    a cluster deployment would raise it to ~2-3x total cores.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    # make this package importable in executor Python workers even when the
    # driver script runs from elsewhere (a cluster deployment ships it via
    # spark-submit --py-files instead)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pypath if pypath else "")
        )
    n = cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.shuffle.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in {**heap_conf(mem_total_kb()), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
