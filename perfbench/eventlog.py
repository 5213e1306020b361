"""Spark event log → per-span counters.

The traced run enables Spark's event log (uncompressed JSON lines). Every
job, stage and SQL execution carries the job description that was set when
it started; the benchmark's tracer sets that description to the open span's
key, so each of them maps to exactly one span. A job started without a span
key is assigned to the innermost span whose interval contains its
submission time.

Families reported per span occurrence (``FAMILIES``):

- ``wall_s``: span duration
- ``driver_s``: wall time minus the union of the span's job intervals
- ``jobs``: Spark jobs started
- ``shuffle_bytes``: shuffle bytes written
- ``py_bytes``: bytes sent to plus bytes returned from Python workers
- ``py_time_s``: time spent running Python workers, summed over tasks
- ``task_cpu_s``: executor CPU time, summed over tasks
- ``gc_s``: JVM GC time, summed over tasks
- ``spill_bytes``: memory plus disk bytes spilled
- ``task_skew``: max over median task run time in the span's longest stage
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from stats import driver_seconds, median

FAMILIES = ("wall_s", "driver_s", "jobs", "shuffle_bytes", "py_bytes",
            "py_time_s", "task_cpu_s", "gc_s", "spill_bytes", "task_skew")

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_TIME = "time to run Python workers"
# the kNN block kernel's round: a MapInArrow straight over a hash exchange
_KNN_ROUND = re.compile(r"^\+- MapInArrow.*\n\s*\+- Exchange", re.M)


@dataclass
class Stage:
    desc: str | None = None
    start: float = 0.0
    end: float = 0.0
    task_run_s: list = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: float = 0.0
    shuffle_bytes: float = 0.0
    py_bytes: float = 0.0
    py_time_s: float = 0.0


@dataclass
class Job:
    desc: str | None
    start: float
    end: float | None = None


@dataclass
class Execution:
    desc: str | None
    plan: str


@dataclass
class EventLog:
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)
    executions: list = field(default_factory=list)


def _desc(props: dict | None) -> str | None:
    return (props or {}).get("spark.job.description")


def parse_file(path: str, log: EventLog) -> None:
    """Add one application's events to ``log``. Job and stage ids restart
    in every application, so they are resolved within the file."""
    jobs: dict[int, Job] = {}
    stages: dict[tuple, Stage] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = Job(_desc(e.get("Properties")), e["Submission Time"] / 1e3)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages.setdefault(key, Stage()).desc = _desc(e.get("Properties"))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), Stage())
                st.start = info.get("Submission Time", 0) / 1e3
                st.end = info.get("Completion Time", 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault((e["Stage ID"], e["Stage Attempt ID"]), Stage())
                m = e.get("Task Metrics") or {}
                st.task_run_s.append(m.get("Executor Run Time", 0) / 1e3)
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in _PY_BYTES:
                        st.py_bytes += float(acc.get("Update", 0))
                    elif name == _PY_TIME:
                        st.py_time_s += float(acc.get("Update", 0)) / 1e3
            elif kind.endswith("SQLExecutionStart"):
                log.executions.append(Execution(e.get("description"),
                                                e.get("physicalPlanDescription", "")))
    log.jobs.extend(j for j in jobs.values() if j.end is not None)
    log.stages.extend(stages.values())


def parse_dir(path: str) -> EventLog:
    """Parse every application log under ``path`` (rolling or single-file)."""
    log = EventLog()
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.startswith((".", "appstatus")) or name.endswith(".crc"):
                continue
            parse_file(os.path.join(root, name), log)
    return log


def _owner(desc: str | None, when: float, spans: list[dict], by_key: dict) -> int | None:
    if desc in by_key:
        return by_key[desc]
    best = None
    for s in spans:
        if s["start"] <= when <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best["id"] if best else None


def span_counters(spans: list[dict], log: EventLog, key) -> dict[int, dict]:
    """Families for every closed span, keyed by span id. ``key(span_id)`` is
    the job description the tracer set while that span was open. A span's
    counters include the jobs of the spans nested inside it."""
    by_key = {key(s["id"]): s["id"] for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(children.get(cur, []))
        return out

    jobs_of: dict[int, list[Job]] = {}
    for j in log.jobs:
        owner = _owner(j.desc, j.start, spans, by_key)
        if owner is not None:
            jobs_of.setdefault(owner, []).append(j)
    stages_of: dict[int, list[Stage]] = {}
    for st in log.stages:
        owner = _owner(st.desc, st.start, spans, by_key)
        if owner is not None:
            stages_of.setdefault(owner, []).append(st)
    execs_of: dict[int, list[Execution]] = {}
    for ex in log.executions:
        if ex.desc in by_key:
            execs_of.setdefault(by_key[ex.desc], []).append(ex)

    out = {}
    for s in spans:
        ids = subtree(s["id"])
        jobs = [j for i in ids for j in jobs_of.get(i, [])]
        stages = [st for i in ids for st in stages_of.get(i, [])]
        ran = [st for st in stages if st.task_run_s]
        skew = 1.0
        if ran:
            longest = max(ran, key=lambda st: st.end - st.start)
            skew = max(longest.task_run_s) / max(median(longest.task_run_s), 1e-3)
        out[s["id"]] = {
            "wall_s": s["end"] - s["start"],
            "driver_s": driver_seconds(s["start"], s["end"], [(j.start, j.end) for j in jobs]),
            "jobs": len(jobs),
            "shuffle_bytes": sum(st.shuffle_bytes for st in stages),
            "py_bytes": sum(st.py_bytes for st in stages),
            "py_time_s": sum(st.py_time_s for st in stages),
            "task_cpu_s": sum(st.cpu_s for st in stages),
            "gc_s": sum(st.gc_s for st in stages),
            "spill_bytes": sum(st.spill_bytes for st in stages),
            "task_skew": skew,
            "knn_rounds": sum(1 for i in ids for ex in execs_of.get(i, [])
                              if _KNN_ROUND.search(ex.plan)),
        }
    return out
