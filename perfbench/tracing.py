"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log parser that attributes engine metrics to those spans.

A span is (id, name, start, end, parent, run id). Spans live in memory
and are written out when the run ends. While a span is open the Spark job
description is ``<run id>#<span id>``, so every stage in the event log
can be joined back to the innermost span that submitted it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark  # set job descriptions only when a session is given
        self.spans: list = []
        self._stack: list = []

    def _describe(self, sid) -> None:
        if self.spark is not None:
            desc = None if sid is None else f"{self.run_id}#{sid}"
            self.spark.sparkContext.setJobDescription(desc)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._describe(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(self._stack[-1]["id"] if self._stack else None)

    def wall(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        kids = sum(self.wall(s["id"]) for s in self.spans if s["parent"] == sid)
        return self.wall(sid) - kids

    def subtree(self, sid: int) -> set:
        ids, grew = {sid}, True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            ids |= more
            grew = bool(more)
        return ids

    def by_name(self, name: str) -> list:
        return [s["id"] for s in self.spans if s["name"] == name]


@contextmanager
def wrapped(tracer: Tracer, module, attr: str, span_name: str, results: list):
    """Route calls to ``module.attr`` through a span while the block runs,
    so a layer called from inside another layer's function is timed within
    the same execution. Return values are appended to ``results``."""
    original = getattr(module, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            out = original(*args, **kwargs)
        results.append(out)
        return out

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, original)


# ------------------------------------------------------------ event log --

class EventLog:
    """Stages, tasks and SQL plans of one application's event log."""

    def __init__(self, path: str):
        self.stage_desc: dict = {}   # stage id -> job description
        self.stage_span: dict = {}   # stage id -> (submit ms, complete ms)
        self.job_desc: dict = {}     # job id -> job description
        self.tasks: list = []        # per finished task
        self.accum: dict = {}        # accumulator id -> summed task updates
        self.plans: list = []        # (execution id, plan tree), incl. AQE
        self.exec_desc: dict = {}    # SQL execution id -> job description
        for part in self._parts(path):
            with open(part) as fh:
                for line in fh:
                    self._event(json.loads(line))

    @staticmethod
    def _parts(log_dir: str) -> list:
        """The event files of the one application logged in ``log_dir``
        (Spark 4 writes a directory of numbered ``events_<n>_*`` files)."""
        apps = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(apps) != 1 or not os.path.isdir(apps[0]):
            raise FileNotFoundError(f"want one event log directory in {log_dir}")
        parts = [f for f in os.listdir(apps[0]) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [os.path.join(apps[0], f) for f in parts]

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            self.job_desc[ev["Job ID"]] = desc
        elif kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            self.stage_desc[ev["Stage Info"]["Stage ID"]] = desc
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stage_span[info["Stage ID"]] = (
                info.get("Submission Time"), info.get("Completion Time")
            )
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "sw_b": sw.get("Shuffle Bytes Written", 0),
                "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0),
            })
            for acc in info.get("Accumulables") or ():
                try:
                    upd = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0) + upd
        elif kind.endswith("SQLExecutionStart"):
            self.exec_desc[ev["executionId"]] = ev.get("description")
            self.plans.append((ev["executionId"], ev["sparkPlanInfo"]))
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans.append((ev["executionId"], ev["sparkPlanInfo"]))

    def metrics(self, descs: set, wall_s: float, cores: int) -> dict:
        """Engine metrics over the stages submitted under ``descs``."""
        stages = {s for s, d in self.stage_desc.items() if d in descs}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        jobs = {j for j, d in self.job_desc.items() if d in descs}
        skew = 0.0
        timed = [s for s in stages if None not in self.stage_span.get(s, (None, None))]
        if timed:
            longest = max(timed, key=lambda s: self.stage_span[s][1] - self.stage_span[s][0])
            durs = [t["dur_ms"] for t in tasks if t["stage"] == longest]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        task_s = sum(t["dur_ms"] for t in tasks) / 1e3
        mb = 1024 * 1024
        return {
            "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "spark.shuffle_write_mb": sum(t["sw_b"] for t in tasks) / mb,
            "spark.shuffle_read_mb": sum(t["sr_b"] for t in tasks) / mb,
            "spark.spill_mb": sum(t["spill_b"] for t in tasks) / mb,
            "spark.tasks": len(tasks),
            "spark.jobs": len(jobs),
            "spark.task_skew": skew,
            "spark.core_busy_ratio": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }

    def output_rows(self, descs: set, *needles: str) -> int:
        """Summed "number of output rows" of the plan nodes, in SQL
        executions submitted under ``descs``, whose text contains every
        needle (0 when the plan exposes no such node)."""
        ids: set = set()

        def walk(node):
            text = node.get("simpleString", "")
            if all(n in text for n in needles):
                ids.update(
                    m["accumulatorId"] for m in node.get("metrics", ())
                    if m.get("name") == "number of output rows"
                )
            for child in node.get("children", ()):
                walk(child)

        for exec_id, plan in self.plans:
            if self.exec_desc.get(exec_id) in descs:
                walk(plan)
        return sum(self.accum.get(i, 0) for i in ids)
