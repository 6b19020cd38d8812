"""Scaling-efficiency evidence run (BASELINE.md / north rule).

Runs the identical extraction+linking+emission job (build_graph over the
seeded synthetic repo table) at a given local[N] parallelism and prints one
JSON line. Protocol (north rule, two "cluster sizes" in this sandbox):
run at N=8 and N=32 in separate processes over the SAME input.

Two efficiency metrics are recorded per trial:
- wall seconds (steal/co-tenant sensitive — see BENCH/BASELINE.md caveats);
- summed executor task time from Spark's status REST API
  (executorRunTime ms + executorCpuTime ns per stage). Total task time is
  parallelism-invariant for a perfectly-scaling job, so
  taskTime(N)/taskTime(4N) is a noise-robust scaling-efficiency estimate:
  co-tenant steal inflates the wall clock of BOTH legs but cancels in the
  summed-CPU ratio, and queueing gaps never enter it at all.

Usage: python scripts/scaling_run.py <cores> [n_repos] [trials] [src_path]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def stage_totals(spark) -> tuple[float, float]:
    """(executorRunTime sec, executorCpuTime sec) summed over all stages so
    far, via the status REST API (public, stable v1 endpoint)."""
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/stages") as r:
        stages = json.load(r)
    run_ms = sum(s.get("executorRunTime", 0) for s in stages)
    cpu_ns = sum(s.get("executorCpuTime", 0) for s in stages)
    return run_ms / 1e3, cpu_ns / 1e9


def main() -> None:
    cores = int(sys.argv[1])
    n_repos = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    src_path = sys.argv[4] if len(sys.argv) > 4 else None  # pre-written corpus

    import shutil
    import tempfile

    from codeontology_spark.pipeline import build_graph
    from codeontology_spark.session import get_spark
    from codeontology_spark.synth import synth_table

    spark = get_spark(
        f"scaling-{cores}",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={"spark.ui.enabled": "true"},  # status REST API source
    )

    # materialize the synthetic input as parquet first: the generator is a
    # Python RDD stage, and chaining it into the extraction UDF would run
    # TWO Python workers per task (pickle → JVM → Arrow) — that pipeline
    # thrashes at high thread counts and is not the production shape anyway
    tmp = tempfile.mkdtemp(prefix=f"scaling_src_{cores}_")
    if src_path:
        src_parquet = spark.read.parquet(f"{src_path}/src")
        warm_path = f"{src_path}/warm"
    else:
        synth_table(spark, n_repos=n_repos, partitions=cores * 2).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/src")
        synth_table(spark, n_repos=200, partitions=cores * 2).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/warm")
        src_parquet = spark.read.parquet(f"{tmp}/src")
        warm_path = f"{tmp}/warm"

    # warm-up: JIT + the full python-worker pool (not timed; identical at
    # both sizes; spread over all cores so every worker imports once)
    for _ in range(2):
        w = build_graph(
            spark.read.parquet(warm_path).repartition(cores * 2), persist=True
        )
        w.triples.count()
        w.unpersist()

    results = []
    phases = []
    task_run = []
    task_cpu = []
    n_triples = 0
    for _ in range(trials):
        r0, c0 = stage_totals(spark)
        t0 = time.perf_counter()
        res = build_graph(src_parquet, persist=True)
        res.raw_entities.count()
        t_extract = time.perf_counter() - t0
        n_triples = res.triples.count()
        total = time.perf_counter() - t0
        r1, c1 = stage_totals(spark)
        results.append(total)
        task_run.append(round(r1 - r0, 2))
        task_cpu.append(round(c1 - c0, 2))
        phases.append({"extract_s": round(t_extract, 2), "emit_s": round(total - t_extract, 2)})
        res.raw_entities.unpersist(True)  # blocking: keep trials independent
        spark.sparkContext._jvm.System.gc()
    shutil.rmtree(tmp, ignore_errors=True)

    best = min(results)
    print(
        json.dumps(
            {
                "cores": cores,
                "n_repos": n_repos,
                "n_files": n_repos * 65,
                "n_triples": n_triples,
                "trials_sec": [round(x, 2) for x in results],
                "task_run_sec": task_run,
                "task_cpu_sec": task_cpu,
                "phases": phases,
                "best_sec": round(best, 2),
                "triples_per_sec": round(n_triples / best, 1),
                "files_per_sec": round(n_repos * 65 / best, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
