"""Layer spans around the public calls, and Spark event-log attribution.

``Tracer.span(layer, metric)`` times one call into a layer and, for its
duration, sets the Spark job group to the layer and the job description
to the current pass, so every job the call triggers is tagged
``(pass, layer)``. ``attribute`` later reads the session's event log
(``SPARK_GRAFT_EVENTLOG``) and sums task and Python-worker SQL metrics
per tag; the event-log is only written in traced sessions.

A span's ``wall_s`` is its self time: time spent in nested spans of
another layer (a checkpoint commit inside a graph stage) is booked to
that layer instead. Any other metric name records the full duration.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# task-level metrics summed per (pass, layer); Python-worker metrics are
# the SQL metrics of the ArrowEvalPython / MapInPandas nodes (ms, bytes)
TASK_COUNTERS = (
    "jobs",
    "tasks",
    "cpu_s",
    "gc_s",
    "scan_s",
    "shuffle_bytes",
    "spill_bytes",
    "python_run_s",
    "python_bytes",
    "py_worker_start_s",
    "records_written",
)
_ACCUMULABLES = {
    "scan time": ("scan_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("py_worker_start_s", 1e-3),
    "data sent to Python workers": ("python_bytes", 1),
    "data returned from Python workers": ("python_bytes", 1),
}


class Tracer:
    """Spans and per-(pass, layer, metric) sums for one SparkSession."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.pass_id = "setup"
        self.values: dict[tuple[str, str, str], float] = defaultdict(float)
        self._stack: list[list] = []  # [layer, time spent in other layers' spans]

    def _tag(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(layer, self.pass_id)

    @contextmanager
    def span(self, layer: str, metric: str = "wall_s"):
        parent = self._stack[-1] if self._stack else None
        frame = [layer, 0.0]
        self._stack.append(frame)
        self._tag(layer)
        t0 = time.monotonic()
        try:
            yield
        finally:
            dt = time.monotonic() - t0
            self._stack.pop()
            self._tag(parent[0] if parent else None)
            self.values[(self.pass_id, layer, metric)] += (
                dt - frame[1] if metric == "wall_s" else dt
            )
            if parent is not None and parent[0] != layer:
                parent[1] += dt

    def add(self, layer: str, metric: str, value: float) -> None:
        self.values[(self.pass_id, layer, metric)] += value


def attribute(eventlog_path: str) -> dict[tuple[str, str], dict[str, float]]:
    """Sum event-log task metrics per ``(pass, layer)`` job tag.

    A stage belongs to the first job that lists it; tasks of untagged
    jobs land under ``(None, None)``."""
    stage_tag: dict[int, tuple] = {}
    out: dict[tuple, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_COUNTERS, 0.0))
    with open(eventlog_path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                tag = (props.get("spark.job.description"), props.get("spark.jobGroup.id"))
                out[tag]["jobs"] += 1
                for s in e.get("Stage IDs", []):
                    stage_tag.setdefault(s, tag)
            elif kind == "SparkListenerTaskEnd":
                acc = out[stage_tag.get(e.get("Stage ID"), (None, None))]
                m = e.get("Task Metrics") or {}
                acc["tasks"] += 1
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                acc["records_written"] += (m.get("Output Metrics") or {}).get(
                    "Records Written", 0
                )
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    hit = _ACCUMULABLES.get(a.get("Name"))
                    if hit is not None and a.get("Update") is not None:
                        acc[hit[0]] += int(a["Update"]) * hit[1]
    return out
