"""Spans around the benchmark's calls into the engine, and the Spark-side
cost of each span read back from Spark's event log.

Spans are always recorded: wall time and the CPU time of the whole process
tree (this process, the JVM, its Python workers).  The end-to-end timings
are their durations.  Only a traced run labels Spark jobs with the span
name (job group) and turns the event log on.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# spans whose Spark jobs the traced run reports as spark.<span>.*
SPARK_SPANS = ("build", "reader", "search", "ingest", "compact")
_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants,
    including descendants that have exited and been reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was listed
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(map(int, fields[11:15]))  # u/s time, own + reaped
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / _TICKS


class Tracer:
    def __init__(self, spark_context=None):
        # set only in a traced run: label each span's Spark jobs
        self._sc = spark_context
        # (name, wall start, wall end, process-tree CPU seconds)
        self.spans: list[tuple[str, float, float, float]] = []

    @contextmanager
    def span(self, name: str):
        if self._sc is not None:
            self._sc.setJobGroup(name, name)
        t0, c0 = time.time(), tree_cpu_s()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time(), tree_cpu_s() - c0))
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.spans if n == name]

    def cpu(self, name: str) -> list[float]:
        return [c for n, _, _, c in self.spans if n == name]


def _read_events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def spark_span_metrics(log_dir: str, spans: list[tuple]) -> dict:
    """Per span name in SPARK_SPANS, the per-call median of: jobs, tasks,
    shuffle bytes written, and task skew (slowest / median task time in
    the call's widest stage).  Jobs are assigned to the span call whose
    wall-clock interval contains their submission time."""
    calls = [(n, t0 * 1000, t1 * 1000) for n, t0, t1, _ in spans if n in SPARK_SPANS]
    job_call: dict[int, int] = {}
    stage_call: dict[int, int] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    shuffle: dict[int, int] = defaultdict(int)
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            for i, (_, c0, c1) in enumerate(calls):
                if c0 <= t <= c1:
                    job_call[ev["Job ID"]] = i
                    for sid in ev["Stage IDs"]:
                        stage_call.setdefault(sid, i)
                    break
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info = ev["Task Info"]
            task_ms[sid].append(info["Finish Time"] - info["Launch Time"])
            sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            shuffle[sid] += sw.get("Shuffle Bytes Written", 0)

    per_call = [{"jobs": 0, "tasks": 0, "shuffle": 0, "widest": []} for _ in calls]
    for i in job_call.values():
        per_call[i]["jobs"] += 1
    for sid, i in stage_call.items():
        c = per_call[i]
        c["tasks"] += len(task_ms[sid])
        c["shuffle"] += shuffle[sid]
        if len(task_ms[sid]) > len(c["widest"]):
            c["widest"] = task_ms[sid]

    out = {}
    for name in SPARK_SPANS:
        mine = [c for (n, _, _), c in zip(calls, per_call) if n == name]
        if not mine:
            continue

        def med(key):
            return float(statistics.median(key(c) for c in mine))

        def skew(c):
            w = c["widest"]
            mid = statistics.median(w) if w else 0
            return max(w) / mid if mid else 1.0

        out[f"spark.{name}.jobs"] = med(lambda c: c["jobs"])
        out[f"spark.{name}.tasks"] = med(lambda c: c["tasks"])
        out[f"spark.{name}.shuffle_write_bytes"] = med(lambda c: c["shuffle"])
        out[f"spark.{name}.task_skew"] = med(skew)
    return out
