"""Per-layer tracing from the benchmark's side of each layer boundary.

A span is one call into a layer's public functions: its wall time is
kept in memory, and the Spark jobs it starts carry the layer name as
their job group (``SparkContext.setJobGroup(<layer>, run_id)``). With
the Spark event log enabled, ``tally_event_log`` sums each group's jobs,
stages, tasks, executor CPU, GC, shuffle-write and spill once the run has
ended. Nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

EVENT_FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb")


class Tracer:
    """Span wall times by name; job groups by layer while a span is open."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.walls: dict[str, float] = {}

    @contextmanager
    def span(self, sc, layer: str, name: str):
        sc.setJobGroup(layer, self.run_id)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def tally_event_log(path: str, groups: tuple[str, ...]) -> dict[str, dict[str, float]]:
    """Per job group totals from one application's (uncompressed) event log."""
    stage_group: dict[int, str] = {}
    out = {g: dict.fromkeys(EVENT_FIELDS, 0.0) for g in groups}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g in out:
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"])
                if g is not None:
                    out[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                o = out[g]
                o["tasks"] += 1
                o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                o["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20)
                o["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for task in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else ():
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
        except FileNotFoundError:
            pass
    return kids


def vmhwm_mb(jvm_pid: int) -> dict[int, float]:
    """VmHWM in MB of the JVM and of every process below it (the Python
    worker daemon and its workers), by pid."""
    out, todo = {}, [jvm_pid]
    while todo:
        pid = todo.pop()
        out[pid] = _status_kb(pid, "VmHWM") / 1024.0
        todo.extend(_children(pid))
    return out
