"""Spans for the traced run and the reducer that turns a Spark event log
into per-span metrics.

A span is (id, name, start, end, parent, run id), kept in memory. While a
span is open its id is the SparkContext job group, so every Spark job the
layer submits carries it in the event log. Jobs submitted from threads
that do not inherit the job group are attributed to the innermost span
open when they were submitted (one client, so spans never overlap except
by nesting).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

# SQL metric names of the Python-evaluation nodes (MapInPandas and friends)
PY_TIME = "time to run Python workers"
PY_BYTES_OUT = "data returned from Python workers"

TASK_FIELDS = (
    "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "python_s", "python_bytes_out",
)


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.info: dict = {}  # counts recorded inside spans
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}.{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    row = {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "python_s": 0.0,
        "python_bytes_out": 0,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == PY_TIME:
            row["python_s"] += float(upd) / 1e3  # timing metric, ms
        elif name == PY_BYTES_OUT:
            row["python_bytes_out"] += int(upd)
    return row


def read_event_log(path: str) -> tuple[dict, dict]:
    """(jobs, stages): jobs[id] = {group, submit_s, stages}; stages[id] =
    summed task metrics plus task count."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0) | {"tasks": 0})
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_s": ev.get("Submission Time", 0) / 1e3,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                for k, v in _task_row(ev).items():
                    st[k] += v
    return jobs, dict(stages)


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def span_metrics(spans: list[dict], jobs: dict, stages: dict) -> dict[str, dict]:
    """Per-span own metrics (jobs it submitted directly, not its children's)
    and self wall time (duration minus the part its children cover)."""
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)

    def owner(job: dict) -> str | None:
        if job["group"] in by_id:
            return job["group"]
        t = job["submit_s"]
        inner = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
        return max(inner, key=lambda s: s["start"])["id"] if inner else None

    # a stage shared by several jobs runs its tasks in the first of them
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)

    out = {}
    for s in spans:
        kids = sorted((c["start"], c["end"]) for c in children[s["id"]])
        covered, cur_end = 0.0, s["start"]
        for a, b in kids:
            a = max(a, cur_end)
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = dict.fromkeys(TASK_FIELDS, 0) | {
            "name": s["name"], "wall_s": s["end"] - s["start"],
            "self_s": s["end"] - s["start"] - covered,
            "jobs": 0, "stages": 0, "tasks": 0,
        }
    for jid, job in jobs.items():
        sid = owner(job)
        if sid is None:
            continue
        rec = out[sid]
        rec["jobs"] += 1
        for st_id in job["stages"]:
            if stage_job.get(st_id) != jid or st_id not in stages:
                continue
            st = stages[st_id]
            rec["stages"] += 1
            rec["tasks"] += st["tasks"]
            for k in TASK_FIELDS:
                rec[k] += st[k]
    return out
