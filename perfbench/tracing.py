"""Spans recorded from outside the program, and Spark's own counters
read back from the event log.

A span is (span_id, name, run_id, parent, start, end, attrs).  Spans
live in memory and are written out once, when the benchmark ends.
While a span is open the Spark job group is set to its id, so every
job the span triggers carries that id in the event log; after the
session stops, ``EventLog`` attributes stages, tasks and executor
metrics to spans and runs by job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records runs (root spans) and the layer spans opened inside them."""

    def __init__(self, spark_context):
        self._sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _open(self, name: str, run_id: str, **attrs) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        sid = run_id if parent is None else f"{run_id}/{name}"
        sp = Span(sid, name, run_id, parent, time.perf_counter(), attrs=attrs)
        self._stack.append(sp)
        self.spans.append(sp)
        self._sc.setJobGroup(sid, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._sc.setJobGroup(self._stack[-1].span_id, self._stack[-1].name)
        else:
            self._sc.setJobGroup("idle", "idle")

    @contextmanager
    def run(self, run_id: str, kind: str):
        """Root span of one run; ``kind`` is cold, warm or traced."""
        sp = self._open("run", run_id, kind=kind)
        try:
            yield sp
        finally:
            self._close(sp)

    @contextmanager
    def span(self, name: str, **attrs):
        """Child span of the open run, named ``layer.operation``."""
        sp = self._open(name, self._stack[-1].run_id, **attrs)
        try:
            yield sp
        finally:
            self._close(sp)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                rec = asdict(sp)
                rec.update((extra or {}).get(sp.span_id, {}))
                f.write(json.dumps(rec) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that records what ``EventLog`` reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logStageExecutorMetrics": "true",
        "spark.executor.processTreeMetrics.enabled": "true",
        "spark.executor.metrics.pollingInterval": "100ms",
    }


# JVM plus Python workers.  "Other" processes are left out: they are the
# short-lived helpers the JVM spawns, and one caught between fork and
# exec reports the whole JVM's RSS a second time.
_RSS_KEYS = ("ProcessTreeJVMRSSMemory", "ProcessTreePythonRSSMemory")


class EventLog:
    """Per-job-group totals parsed from a finished Spark event log."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.peak_rss: dict[str, float] = defaultdict(float)
        with open(files[-1]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    self.jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    self.stages[stage_group.get(sid, "")] += 1
                elif kind == "SparkListenerTaskEnd":
                    self._task(stage_group.get(ev["Stage ID"], ""), ev)
                elif kind == "SparkListenerStageExecutorMetrics":
                    group = stage_group.get(ev["Stage ID"], "")
                    m = ev.get("Executor Metrics") or {}
                    rss = sum(m.get(k, 0) for k in _RSS_KEYS)
                    self.peak_rss[group] = max(self.peak_rss[group], rss)

    def _task(self, group: str, ev: dict) -> None:
        t = self.totals[group]
        m = ev.get("Task Metrics") or {}
        t["tasks"] += 1
        t["task_s"] += m.get("Executor Run Time", 0) / 1e3
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        inp = m.get("Input Metrics") or {}
        t["input_bytes"] += inp.get("Bytes Read", 0)
        t["input_records"] += inp.get("Records Read", 0)
        em = ev.get("Task Executor Metrics") or {}
        rss = sum(em.get(k, 0) for k in _RSS_KEYS)
        self.peak_rss[group] = max(self.peak_rss[group], rss)

    def group(self, group_id: str) -> dict[str, float]:
        """Counters of one job group (a run id or a span id)."""
        out = dict(self.totals.get(group_id, {}))
        out["jobs"] = self.jobs.get(group_id, 0)
        out["stages"] = self.stages.get(group_id, 0)
        out["peak_rss_bytes"] = self.peak_rss.get(group_id, 0.0)
        return out
