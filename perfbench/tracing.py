"""Tracing for the benchmark's traced run.

Three sources, all recorded from the benchmark's own code:

* ``Tracer`` keeps spans (name, start, end, parent) in memory around the
  benchmark's calls into each layer, and sets the Spark job group to
  ``<workload>.<layer>`` before each call so the event log attributes jobs.
* ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress event (the untraced run uses it too: it is the only
  way to time a trigger from outside the drain).
* ``EventLog`` folds Spark's JSON event log (written uncompressed and
  non-rolling, see ``event_log_conf``) into per-interval sums: jobs, stages,
  tasks, executor run / deserialize / GC time, shuffle and spill bytes, the
  stage-free driver gap, and SQL metrics by name.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark confs for an event log the fold below can read."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing and sets
    no job group, so the untraced run executes the same workload code
    without tracing cost."""

    def __init__(self, workload: str, enabled: bool = False):
        self.workload = workload
        self.enabled = enabled
        #: the SparkContext whose job group each layer call sets, once built
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        """Record ``name``; with ``layer``, jobs started inside carry the
        job group ``<workload>.<layer>``. Yields the span's attrs dict."""
        if not self.enabled:
            yield attrs
            return
        if layer is not None and self.sc is not None:
            self.sc.setJobGroup(f"{self.workload}.{layer}", name)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield attrs
        finally:
            sp.end = time.time()
            self._stack.pop()
            if layer is not None and self.sc is not None:
                self.sc.setJobGroup(f"{self.workload}.bench", "benchmark")

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = union_length([(c.start, c.end) for c in kids[i]], s.start, s.end)
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def unattributed(self, start: float, end: float) -> float:
        """Seconds of ``[start, end]`` that no top-level span covers."""
        tops = [(s.start, s.end) for s in self.spans if s.parent is None]
        return (end - start) - union_length(tops, start, end)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, **s.attrs}
            for s in self.spans
        ]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stream_progress_listener():
    """A ``StreamingQueryListener`` that keeps progress events as dicts."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.events.append(
                {
                    "start": start,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, n: int, timeout_s: float = 30.0) -> None:
            """Progress events arrive on the listener bus after the drain
            returns; wait until ``n`` have been delivered."""
            deadline = time.time() + timeout_s
            while len(self.events) < n and time.time() < deadline:
                time.sleep(0.02)

    return StreamProgress()


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Stages, jobs and SQL executions read back from a JSON event log."""

    def __init__(self, log_dir: str):
        self.stages: dict[tuple, dict] = {}
        self.jobs: list[dict] = []
        self.sql: dict[int, dict] = {}
        self._acc_name: dict[int, tuple[str, str]] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self._acc_name[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
        for ch in info.get("children", []):
            self._plan(ch)

    def _execution(self, eid) -> dict:
        return self.sql.setdefault(int(eid), {"start": 0.0, "metrics": defaultdict(float)})

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(
                (info["Stage ID"], info["Stage Attempt ID"]), _empty_stage()
            )
            st["submit"] = _num(info.get("Submission Time")) / 1000
            st["end"] = _num(info.get("Completion Time")) / 1000
            st["tasks"] = info.get("Number of Tasks", 0)
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault((e["Stage ID"], e["Stage Attempt ID"]), _empty_stage())
            tm = e.get("Task Metrics") or {}
            st["run_s"] += _num(tm.get("Executor Run Time")) / 1000
            st["deser_s"] += _num(tm.get("Executor Deserialize Time")) / 1000
            st["gc_s"] += _num(tm.get("JVM GC Time")) / 1000
            st["spill"] += _num(tm.get("Memory Bytes Spilled")) + _num(tm.get("Disk Bytes Spilled"))
            st["shuffle_write"] += _num((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    st["sql"][acc["ID"]] += _num(acc.get("Update"))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append(
                {
                    "submit": _num(e.get("Submission Time")) / 1000,
                    "group": props.get("spark.jobGroup.id"),
                    "execution": props.get("spark.sql.execution.id"),
                    "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            ex = self._execution(e["executionId"])
            ex["start"] = _num(e.get("time")) / 1000
            self._plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self._acc_name[m["accumulatorId"]] = ("", m["name"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = self._execution(e["executionId"])
            for acc_id, value in e.get("accumUpdates", []):
                ex["metrics"][int(acc_id)] += _num(value)

    def window(self, start: float, end: float) -> dict:
        """Sums over the jobs, stages and SQL executions submitted inside
        ``[start, end]``; ``driver_gap_s`` is the window's wall minus the
        union of its stages' run intervals."""
        stages = [s for s in self.stages.values() if start <= s["submit"] <= end]
        out = {
            "jobs": sum(1 for j in self.jobs if start <= j["submit"] <= end),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "executor_run_s": sum(s["run_s"] for s in stages),
            "executor_deserialize_s": sum(s["deser_s"] for s in stages),
            "gc_s": sum(s["gc_s"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "spill_bytes": sum(s["spill"] for s in stages),
            "driver_gap_s": (end - start)
            - union_length([(s["submit"], s["end"]) for s in stages], start, end),
        }
        sql: dict[tuple[str, str], float] = defaultdict(float)
        for s in stages:
            for acc_id, v in s["sql"].items():
                sql[self._acc_name.get(acc_id, ("", "?"))] += v
        for ex in self.sql.values():
            if start <= ex["start"] <= end:
                for acc_id, v in ex["metrics"].items():
                    sql[self._acc_name.get(acc_id, ("", "?"))] += v
        out["sql"] = dict(sql)
        return out


def sql_sum(window: dict, metric: str, node_prefix: str = "") -> float:
    """Sum of SQL metric ``metric`` over plan nodes whose name starts with
    ``node_prefix`` (timing metrics are in ms, sizes in bytes)."""
    return sum(
        v for (node, name), v in window["sql"].items()
        if name == metric and node.startswith(node_prefix)
    )


def _empty_stage() -> dict:
    return {
        "submit": 0.0,
        "end": 0.0,
        "tasks": 0,
        "run_s": 0.0,
        "deser_s": 0.0,
        "gc_s": 0.0,
        "spill": 0.0,
        "shuffle_write": 0.0,
        "sql": defaultdict(float),
    }
