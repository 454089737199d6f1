"""Spans around layer calls, and Spark metrics attributed to them.

A span records (name, op, start, end, parent). While a span is open its
id is the Spark job group of the calling thread, so every job the layer
call submits carries it into Spark's event log. After the session stops,
`EventLog` reads that log (uncompressed JSON lines) and sums task metrics
over the job groups of a span and its descendants
(`Tracer.subtree_groups`).

With tracing off, `Tracer.span` records nothing and sets no job group, so
the untraced run measures the program alone.
"""

from __future__ import annotations

import collections
import contextlib
import json
import statistics
import time

# Plan nodes whose SQL metrics measure the Arrow/Python boundary.
PYTHON_NODES = ("MapInArrow", "MapInPandas", "PythonMapInArrow",
                "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "ArrowWindowPython",
                "AggregateInPandas")


class Tracer:
    """Spans kept in memory; `dump` writes them out at exit."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(f"span-{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(f"span-{self._stack[-1]}" if self._stack
                            else None)

    def _set_group(self, gid):
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                     gid)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree_groups(self, sid: int) -> set:
        out = {f"span-{sid}"}
        for c in self.children(sid):
            out |= self.subtree_groups(c["id"])
        return out

    def self_time(self, sid: int) -> float:
        """Span duration minus the part its child spans cover."""
        s = self.spans[sid]
        return (s["end"] - s["start"]) - _union_len(
            [(c["start"], c["end"]) for c in self.children(sid)])

    def record(self, name: str, op, start: float, end: float,
               parent: int) -> None:
        """Adds a finished span that has no job group of its own: its
        jobs are the parent's jobs submitted inside [start, end)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "op": op, "parent": parent,
                               "start": start, "end": end})

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_len(intervals) -> float:
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


class EventLog:
    """Per-job-group sums over one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str | None] = {}
        self.stage_tasks: dict[int, list] = collections.defaultdict(list)
        self.python_accums: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "action": props.get("spark.sql.execution.root.id",
                                    props.get("spark.sql.execution.id")),
                "start": e["Submission Time"] / 1000.0, "end": None}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            self.stage_group[sid] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            self.stage_tasks[e["Stage ID"]].append(e)
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e.get("sparkPlanInfo") or {})

    def _plan(self, node: dict) -> None:
        if any(node.get("nodeName", "").startswith(p)
               for p in PYTHON_NODES):
            for m in node.get("metrics", []):
                self.python_accums[m["accumulatorId"]] = m["name"]
        for c in node.get("children", []):
            self._plan(c)

    def summary(self, groups: set) -> dict:
        """Job, stage and task metrics of every job group in `groups`."""
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        stages = [s for s, g in self.stage_group.items() if g in groups]
        out = collections.Counter()
        out["jobs"] = len(jobs)
        out["stages"] = len(stages)
        skew = []
        py_stages = 0
        for sid in stages:
            tasks = self.stage_tasks.get(sid, [])
            durs = []
            stage_py = 0
            for t in tasks:
                m = t.get("Task Metrics") or {}
                info = t["Task Info"]
                out["tasks"] += 1
                durs.append(info["Finish Time"] - info["Launch Time"])
                out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                inp = m.get("Input Metrics", {})
                out["input_bytes"] += inp.get("Bytes Read", 0)
                outp = m.get("Output Metrics", {})
                out["output_bytes"] += outp.get("Bytes Written", 0)
                out["output_records"] += outp.get("Records Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                out["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics", {})
                out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written",
                                                     0)
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"],
                    m.get("Peak Execution Memory", 0))
                for a in info.get("Accumulables", []):
                    name = self.python_accums.get(a.get("ID"))
                    if name is None:
                        continue
                    upd = int(a.get("Update") or 0)
                    out["py:" + name] += upd
                    if name == "data sent to Python workers":
                        stage_py += upd
            py_stages += stage_py > 0
            if len(durs) >= 2:
                med = statistics.median(durs)
                skew.append(max(durs) / med if med > 0 else 1.0)
        out["python_stages"] = py_stages
        out["task_skew"] = max(skew) if skew else 1.0
        return dict(out)

    def job_intervals(self, groups: set) -> list:
        return [(j["start"], j["end"]) for j in self.jobs.values()
                if j["group"] in groups and j["end"] is not None]

    def first_action_s(self, groups: set) -> float:
        """Wall time of the first DataFrame action among `groups`: every
        job of the earliest SQL execution (one action can submit several
        jobs under adaptive execution)."""
        jobs = sorted((j for j in self.jobs.values()
                       if j["group"] in groups and j["end"] is not None),
                      key=lambda j: j["start"])
        if not jobs:
            return 0.0
        first = [j for j in jobs if j["action"] == jobs[0]["action"]]
        return _union_len([(j["start"], j["end"]) for j in first])

    def jobs_between(self, groups: set, start: float, end: float) -> int:
        """Jobs of `groups` submitted in [start, end)."""
        return sum(1 for j in self.jobs.values()
                   if j["group"] in groups and start <= j["start"] < end)


def covered_s(intervals, start: float, end: float) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    return _union_len([(max(s, start), min(e, end)) for s, e in intervals
                       if e > start and s < end])
