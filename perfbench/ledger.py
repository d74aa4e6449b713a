"""Spans, Spark job groups and the event log: the traced run's ledger.

A :class:`Tracer` times named spans and keeps each record (name, start,
end, parent, run) in memory. When enabled, each span also sets a Spark
job group, so every job Spark launches inside it carries the span's id
in its properties. After the session stops, :func:`read_event_log`
parses Spark's uncompressed JSON-lines event log and :func:`span_jobs`
joins the two: jobs to spans by job group, task metrics to jobs by stage.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        # spans are always timed and kept (the untraced run's latencies
        # come from them); only an enabled tracer touches job groups
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run = 0
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time and record ``name``; when enabled, also route its jobs to
        a job group named after the span id."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"s{next(self._ids)}", "name": name, "parent": parent and parent["id"],
               "run": self.run, "start": time.time(), "end": None}
        self._stack.append(rec)
        if self.enabled:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self.enabled and parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            elif self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- event log -----------------------------------------------------------------

TASK_FIELDS = {
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0),
    "shuffle_read_bytes": lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0)
        for k in ("Remote Bytes Read", "Local Bytes Read")
    ),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    "input_bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
}


def parse_event_log(lines) -> dict[int, dict]:
    """Jobs of one application: ``{job_id: {group, submit, end, stages,
    tasks, <task metric sums>}}`` with times in epoch seconds. ``lines``
    is any iterable of the log's JSON lines."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                         "submit": ev["Submission Time"] / 1e3, "end": None,
                         "stage_ids": list(ev.get("Stage IDs", []))}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            agg = stage_metrics[ev["Stage ID"]]
            agg["tasks"] += 1
            for k, f in TASK_FIELDS.items():
                agg[k] += f(m)
    for job in jobs.values():
        tot = defaultdict(float)
        ran = [s for s in job["stage_ids"] if s in stage_metrics]
        for sid in ran:
            for k, v in stage_metrics[sid].items():
                tot[k] += v
        job["n_stages"] = len(ran)
        for k in ["tasks", *TASK_FIELDS]:
            job[k] = tot[k]
        if job["end"] is None:
            job["end"] = job["submit"]
    return jobs


def read_event_log(evdir: str, app_id: str) -> dict[int, dict]:
    """Parse one application's log under ``evdir``: a single file named
    after the application, or (Spark 4's default rolling layout) an
    ``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` parts."""
    single = os.path.join(evdir, app_id)
    if os.path.isfile(single):
        paths = [single]
    else:
        d = os.path.join(evdir, f"eventlog_v2_{app_id}")
        parts = [f for f in os.listdir(d) if f.startswith("events_")]
        paths = [os.path.join(d, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]

    def lines():
        for p in paths:
            with open(p) as fh:
                yield from fh

    return parse_event_log(lines())


# -- derivations ---------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[str, float]:
    """Each span's duration minus the durations of its direct children."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def descendants(spans: list[dict], root_id: str) -> set[str]:
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


def span_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[str, list[dict]]:
    """Jobs launched directly inside each span (by job group)."""
    by = defaultdict(list)
    ids = {s["id"] for s in spans}
    for job in jobs.values():
        if job["group"] in ids:
            by[job["group"]].append(job)
    return by


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
