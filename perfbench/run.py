"""Benchmark of the code-to-knowledge-graph engine on local[nproc].

    python3 perfbench/run.py --workload build-unique --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one client, closed loop:

1. write the seeded inputs as parquet (untimed);
2. start the Spark session ``SETUP_REPS`` times (the first start launches
   the JVM, the others restart the SparkContext in it) and keep the median
   as ``setup_s``;
3. run ``WARM_PASSES`` passes of the workload's operations untimed, so
   every operation of the timed loop has run before; the first op, the
   first CLI ``build`` in the fresh session, is ``phases_s.first_op_s`` in
   the details line;
4. run ``MIN_PASSES`` passes, and more until ``--seconds`` have gone,
   recording each operation's wall and CPU time (``host.tree_cpu_s``);
5. check every output against its pinned or oracle value.

With ``--trace 1`` the run then restarts the Spark context with an
uncompressed event log, runs ``TRACED_PASSES`` passes with every layer
call in a span,
and prints the per-layer metrics instead of the end-to-end ones. The last
stdout line is the result object; the line before it holds details (host
stamp, sizes, latencies). The exit code is 1 when any operation failed
or produced a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: driver heap, fixed so every commit runs with the same one
HEAP = "3g"
SETUP_REPS = 5
#: files the in-process parser probe times per run
JSPARSE_SAMPLE = 100

# Operations are measured in CPU seconds of the process tree, divided by
# the CPU seconds of a fixed reference task run on every vCPU between them
# (host.HostClock), not in wall time. On a shared virtual host a build's
# wall time follows the hypervisor's steal (in one session, builds took
# 6.1-7.2 s at 12-20% steal against 4.9-5.3 s at 4-5%, at the same 12-13
# CPU seconds), and CPU time itself follows the host: for minutes at a
# time the same builds took a third less CPU. Wall and raw CPU figures are
# in the details line (build_s_p50, ops_per_s, build_cpu_s_p50,
# cpu_s_per_op, op_latency_s, op_cpu_s), as is the cold first build, a
# single sample per run.
E2E_UNITS = {
    "setup_s": "s",
    "build_cpu_ref_p50": "ref",
    "cpu_ref_per_op": "ref",
    "peak_rss_mb": "MB",
    "out_bytes_per_row": "B",
}

# the span names of forks-build-query (workloads.LOOKUPS, TRAVERSALS, CORPUS_OPS)
QUERY_TEMPLATES = (
    "calls", "called-by", "in-module", "unused", "entity-counts", "circular", "cc",
)
CORPUS_OPS = ("exact-dedup", "c4", "pack")

LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.pass_s": "s",
    "trace.overhead_ratio": "ratio",
    "jsparse.kb_per_s": "KB/s",
    "jsparse.files_per_s": "1/s",
    "extract.wall_share": "ratio",
    "extract.task_share": "ratio",
    "extract.python_share": "ratio",
    "extract.arrow_bytes_out": "B",
    "extract.shuffle_write_bytes": "B",
    "extract.files_parsed": "count",
    "extract.parse_share": "ratio",
    "emit.wall_share": "ratio",
    "emit.task_share": "ratio",
    "emit.shuffle_write_bytes": "B",
    "invariant.wall_share": "ratio",
    "invariant.violations": "count",
    "store.write_triples_share": "ratio",
    "store.write_lineage_share": "ratio",
    "store.python_share": "ratio",
    "store.files_written": "count",
    "store.bytes_written": "B",
    "store.shuffle_write_bytes": "B",
    "store.spill_bytes": "B",
    "store.read_bytes": "B",
    "cli.build.wall_share": "ratio",
}
for _t in QUERY_TEMPLATES:
    LAYER_UNITS |= {f"queries.{_t}.wall_share": "ratio", f"queries.{_t}.jobs": "count",
                    f"queries.{_t}.shuffle_bytes": "B"}
for _o in CORPUS_OPS:
    LAYER_UNITS |= {f"ops.{_o}.wall_share": "ratio", f"ops.{_o}.jobs": "count",
                    f"ops.{_o}.shuffle_bytes": "B"}


def _args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and pin the
    driver heap (session.get_spark reads SPARK_DRIVER_MEM)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    ).strip()


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024)
    return -1


def _start_session(traced: bool):
    import workloads
    from codeontology_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if traced:
        events = os.path.join(WORK, "events")
        os.makedirs(events, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark("perfbench", cores=workloads.NPROC, extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    import host

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while (left := host.descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while host.descendants(os.getpid()):
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            time.sleep(0.05)


class Loop:
    """Closed loop, one client: passes run back to back until ``seconds``
    have gone (at least ``min_passes``). Records per-op latency and CPU
    time (``host.tree_cpu_s``) and per-pass wall time; an op that raises or
    returns a wrong count is a failure."""

    def __init__(self, wl, seed: int, seconds: float, tracer, min_passes: int = 1,
                 label: str = "pass", clock=None):
        import host

        self.lat: list[float] = []
        self.cpu: list[float] = []
        self.ref: list[float] = []  # clock ticks: before each op and after the last
        self.passes: list[float] = []
        self.keys: list[str] = []
        self.failed: list[str] = []
        t0 = time.perf_counter()
        tick_s = 0.0  # wall time of clock ticks, left out of pass and loop times
        k = 0
        while k < min_passes or time.perf_counter() - t0 - tick_s < seconds:
            rng = random.Random(f"{label}:{seed}:{k}")
            tp = time.perf_counter() - tick_s
            with tracer.span("pass"):
                for op in wl.pass_ops(rng):
                    if clock:
                        tick_s -= time.perf_counter()
                        self.ref.append(clock.tick())
                        tick_s += time.perf_counter()
                    c, t = host.tree_cpu_s(), time.perf_counter()
                    ok = _guarded(op.fn)
                    self.lat.append(time.perf_counter() - t)
                    self.cpu.append(host.tree_cpu_s() - c)
                    self.keys.append(op.key)
                    if not ok:
                        self.failed.append(op.key)
            self.passes.append(time.perf_counter() - tick_s - tp)
            k += 1
        self.wall = time.perf_counter() - t0 - tick_s
        if clock:
            self.ref.append(clock.tick())


def _guarded(fn) -> bool:
    try:
        return fn()
    except Exception:  # one failed operation must not end the run
        traceback.print_exc(file=sys.stderr)
        return False


def _jsparse_rates(files: list[tuple[str, str]]) -> dict:
    from codeontology_spark.jsparse import extract_file

    sample = files[:JSPARSE_SAMPLE]
    t = time.perf_counter()
    for path, content in sample:
        extract_file(path, content)
    dt = time.perf_counter() - t
    kb = sum(len(c.encode()) for _, c in sample) / 1024.0
    return {"jsparse.kb_per_s": kb / dt, "jsparse.files_per_s": len(sample) / dt}


def _layer_metrics(tracer, untraced: Loop, spans: dict) -> dict:
    """Per-pass layer metrics from the traced passes. The first traced pass
    restarts the Python workers, so it is left out when there are more."""
    passes = [s for s in tracer.spans if s["name"] == "pass"]
    keep = passes[1:] if len(passes) > 1 else passes
    keep_ids = {s["id"] for s in keep}
    parent = {s["id"]: s["parent"] for s in tracer.spans}

    def in_kept(sid: str) -> bool:
        while sid is not None:
            if sid in keep_ids:
                return True
            sid = parent[sid]
        return False

    recs = [spans[s["id"]] for s in tracer.spans if in_kept(s["id"])]
    n = len(keep)
    pass_wall = sum(spans[s["id"]]["wall_s"] for s in keep)
    run_s = sum(r["run_s"] for r in recs) or 1.0

    def by(name: str, field: str) -> float:
        return sum(r[field] for r in recs if r["name"] == name)

    def count(name: str) -> int:
        return sum(1 for r in recs if r["name"] == name)

    m = dict.fromkeys(LAYER_UNITS, 0.0)
    for field, key in (("jobs", "spark.jobs"), ("stages", "spark.stages"), ("tasks", "spark.tasks"),
                       ("run_s", "spark.executor_run_s"), ("cpu_s", "spark.executor_cpu_s"),
                       ("gc_s", "spark.gc_s"), ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
                       ("spill_bytes", "spark.spill_bytes")):
        m[key] = sum(r[field] for r in recs) / n
    m["trace.pass_s"] = statistics.median(spans[s["id"]]["wall_s"] for s in keep)
    m["trace.overhead_ratio"] = m["trace.pass_s"] / statistics.median(untraced.passes)

    m["extract.wall_share"] = by("extract", "self_s") / pass_wall
    m["extract.task_share"] = by("extract", "run_s") / run_s
    m["extract.python_share"] = by("extract", "python_s") / run_s
    m["extract.arrow_bytes_out"] = by("extract", "python_bytes_out") / n
    m["extract.shuffle_write_bytes"] = by("extract", "shuffle_write_bytes") / n
    m["emit.wall_share"] = by("emit", "self_s") / pass_wall
    m["emit.task_share"] = by("emit", "run_s") / run_s
    m["emit.shuffle_write_bytes"] = by("emit", "shuffle_write_bytes") / n
    m["invariant.wall_share"] = by("invariant", "self_s") / pass_wall
    m["store.write_triples_share"] = by("store.write_triples", "self_s") / pass_wall
    m["store.write_lineage_share"] = by("store.write_lineage", "self_s") / pass_wall
    m["store.python_share"] = by("store.write_lineage", "python_s") / run_s
    store_spans = ("store.write_triples", "store.write_lineage")
    m["store.shuffle_write_bytes"] = sum(by(s, "shuffle_write_bytes") for s in store_spans) / n
    m["store.spill_bytes"] = sum(by(s, "spill_bytes") for s in store_spans) / n
    m["store.read_bytes"] = sum(r["input_bytes"] for r in recs if r["name"].startswith("queries.")) / n
    m["cli.build.wall_share"] = by("cli.build", "self_s") / pass_wall
    for group, names in (("queries", QUERY_TEMPLATES), ("ops", CORPUS_OPS)):
        for t in names:
            span = f"{group}.{t}"
            execs = count(span) or 1
            m[f"{span}.wall_share"] = by(span, "self_s") / pass_wall
            m[f"{span}.jobs"] = by(span, "jobs") / execs
            m[f"{span}.shuffle_bytes"] = by(span, "shuffle_write_bytes") / execs
    return m


def _span_table(spans: dict) -> dict:
    """Totals per span name over the whole traced loop, for the details line."""
    table: dict[str, dict] = {}
    for rec in spans.values():
        row = table.setdefault(rec["name"], {"n": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0,
                                             "tasks": 0, "run_s": 0.0, "python_s": 0.0})
        row["n"] += 1
        for k in ("wall_s", "self_s", "jobs", "tasks", "run_s", "python_s"):
            row[k] += rec[k]
    return {k: {f: round(v, 3) for f, v in row.items()} for k, row in table.items()}


def run(argv: list[str] | None = None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "codeontology_spark", "__init__.py")):
        print(f"perfbench: no codeontology_spark package in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import codeontology_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(codeontology_spark.__file__))) != ROOT:
        print("perfbench: codeontology_spark resolved outside the checkout", file=sys.stderr)
        return 2

    import host
    import workloads
    from bench import HostStamp
    from tracing import NullTracer, Tracer, find_event_log, read_event_log, span_metrics

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    _prepare_env()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    spark = None
    ctx = workloads.Ctx(spark=None, work=WORK, seed=args.seed, expected=expected, tracer=NullTracer())
    wl = workloads.WORKLOADS[args.workload](ctx)
    details: dict = {"workload": args.workload, "seed": args.seed, "params": wl.PARAMS}
    clock = host.HostClock(workloads.NPROC)
    try:
        with HostStamp() as stamp, host.RssSampler(exclude=clock.pids) as rss:
            t = time.perf_counter()
            details["inputs"] = wl.prepare()
            phases = {"inputs_s": time.perf_counter() - t}
            setup = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = ctx.spark = _start_session(traced=False)
                setup.append(time.perf_counter() - t)

            warm = Loop(wl, args.seed, 0, ctx.tracer, wl.WARM_PASSES, label="warm")
            phases |= {"first_op_s": warm.lat[0], "warm_up_s": warm.wall}
            loop = Loop(wl, args.seed, args.seconds, ctx.tracer, wl.MIN_PASSES, clock=clock)
            phases["loop_s"] = loop.wall
            failed = warm.failed + loop.failed
            attempted = len(warm.lat) + len(loop.lat)
            peak_rss_mb = rss.peak_mb

            if args.trace:
                spark.stop()
                spark = ctx.spark = _start_session(traced=True)
                ctx.tracer = Tracer(spark.sparkContext, f"{args.workload}.{args.seed}")
                # the first traced pass restarts the Python workers and
                # _layer_metrics leaves it out
                tloop = Loop(wl, args.seed, args.seconds, ctx.tracer, wl.TRACED_PASSES)
                failed += tloop.failed
                attempted += len(tloop.lat)

            t = time.perf_counter()
            bad = set(_guarded_check(wl))
            phases["check_s"] = time.perf_counter() - t
            failed += [k for k in warm.keys + loop.keys + (tloop.keys if args.trace else [])
                       if k in bad]
            out_bytes_per_row = wl.out_bytes_per_row()
            layer_counts = wl.layer_counts() if args.trace else {}
            if args.trace:
                spark.stop()
                spark = None
                jobs, stages = read_event_log(find_event_log(os.path.join(WORK, "events")))
                spans = span_metrics(ctx.tracer.spans, jobs, stages)
    finally:
        clock.close()
        _shutdown(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    details |= {
        "host": {"nproc": workloads.NPROC, "mem_total_mb": _mem_total_mb(),
                 "driver_heap": HEAP} | stamp.as_dict(),
        "phases_s": phases,
        "clock_ticks_s": [round(r, 4) for r in loop.ref],
        "setup_s": setup,
        "build_s_p50": statistics.median(s for k, s in zip(loop.keys, loop.lat) if k == "build"),
        "ops_per_s": len(loop.lat) / loop.wall,
        "op_latency_s": [[k, round(s, 4)] for k, s in zip(loop.keys, loop.lat)],
        "build_cpu_s_p50": statistics.median(c for k, c in zip(loop.keys, loop.cpu) if k == "build"),
        "cpu_s_per_op": sum(loop.cpu) / len(loop.cpu),
        "op_cpu_s": [[k, round(c, 2)] for k, c in zip(loop.keys, loop.cpu)],
        "warm_op_cpu_s": [[k, round(c, 2)] for k, c in zip(warm.keys, warm.cpu)],
        "pass_s": loop.passes,
        "failed_ops": failed,
        "failed_share": len(failed) / attempted,
    }
    if args.trace:
        metrics = _layer_metrics(ctx.tracer, loop, spans)
        counts = layer_counts | ctx.tracer.info
        metrics |= {k: v for k, v in counts.items() if k in LAYER_UNITS}
        metrics |= _jsparse_rates(wl.distinct_files())
        details["counts"] = counts
        units = LAYER_UNITS
        details["traced_pass_s"] = tloop.passes
        details["spans"] = _span_table(spans)
    else:
        # CPU seconds in units of the reference task's CPU seconds, taken
        # as the median of the clock ticks around the loop's operations
        ref_s = statistics.median(loop.ref)
        metrics = {
            "setup_s": statistics.median(setup),
            "build_cpu_ref_p50": details["build_cpu_s_p50"] / ref_s,
            "cpu_ref_per_op": details["cpu_s_per_op"] / ref_s,
            "peak_rss_mb": peak_rss_mb,
            "out_bytes_per_row": out_bytes_per_row,
        }
        units = E2E_UNITS
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if not failed else 1


def _guarded_check(wl) -> list[str]:
    try:
        return wl.check()
    except Exception:  # a check that cannot run fails every checked op
        traceback.print_exc(file=sys.stderr)
        return ["build", *CORPUS_OPS]


if __name__ == "__main__":
    sys.exit(run())
