"""Spark event log → per-layer times and counts of one time window.

The benchmark turns the log on through ``get_spark(extra_conf=…)``
(uncompressed, non-rolling) and parses it after the session stops. Each
stage belongs to one layer, named from the RDD scopes of the stage; where
stages of several layers overlap in time, the instant goes to the layer
first in ``LAYERS``. That partition of the window gives every layer a self
time, so the layer self times plus the driver gap add up to the window.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

#: precedence order: an instant where stages of several layers run is
#: charged to the first of them
LAYERS = ("ocr", "write", "scan", "merge", "other")

_PYTHON = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas",
)
_MERGE = ("Exchange", "ShuffleRead", "Aggregate", "Join", "Window", "Sort", "Union")


def layer_of(scopes: set[str]) -> str:
    """``MapInPandas`` (the OCR UDF) → ocr, ``WriteFiles`` → write,
    ``Scan parquet`` → scan, shuffle/aggregate/join operators → merge,
    anything else (file listing, snapshot I/O) → other."""
    if any(s.startswith(_PYTHON) for s in scopes):
        return "ocr"
    if "WriteFiles" in scopes:
        return "write"
    if any(s.startswith("Scan ") for s in scopes):
        return "scan"
    if any(m in s for s in scopes for m in _MERGE):
        return "merge"
    return "other"


@dataclass
class Task:
    run_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    out_bytes: int


@dataclass
class Stage:
    submit: float
    end: float
    layer: str
    tasks: list[Task] = field(default_factory=list)


class EventLog:
    """Jobs, stages and tasks of one application's event log. Times are
    epoch seconds, the clock ``time.time()`` reads."""

    def __init__(self, path: str):
        self.jobs: list[tuple[float, float]] = []
        self.stages: dict[tuple[int, int], Stage] = {}
        job_submit: dict[int, float] = {}
        tasks: dict[tuple[int, int], list[Task]] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job_submit[e["Job ID"]] = e["Submission Time"] / 1e3
                elif kind == "SparkListenerJobEnd":
                    t0 = job_submit.pop(e["Job ID"], None)
                    if t0 is not None:
                        self.jobs.append((t0, e["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    key = (e["Stage ID"], e["Stage Attempt ID"])
                    tasks.setdefault(key, []).append(Task(
                        run_s=m.get("Executor Run Time", 0) / 1e3,
                        gc_s=m.get("JVM GC Time", 0) / 1e3,
                        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        spill=m.get("Disk Bytes Spilled", 0),
                        out_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    ))
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" not in si or "Completion Time" not in si:
                        continue
                    scopes = {
                        json.loads(r["Scope"])["name"]
                        for r in si.get("RDD Info", ())
                        if "Scope" in r
                    }
                    self.stages[(si["Stage ID"], si["Stage Attempt ID"])] = Stage(
                        submit=si["Submission Time"] / 1e3,
                        end=si["Completion Time"] / 1e3,
                        layer=layer_of(scopes),
                    )
        for key, ts in tasks.items():
            if key in self.stages:
                self.stages[key].tasks = ts


def load(log_dir: str) -> EventLog:
    """The single finished event log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return EventLog(os.path.join(log_dir, names[0]))


def _union(intervals, t0: float, t1: float) -> float:
    total, cur = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, t1)
        if b > a:
            total += b - a
            cur = b
    return total


def window(log: EventLog, t0: float, t1: float) -> dict[str, float]:
    """Layer metrics of the stages and jobs submitted in [t0, t1]."""
    stages = [s for s in log.stages.values() if t0 <= s.submit <= t1]
    jobs = [j for j in log.jobs if t0 <= j[0] <= t1]
    wall = t1 - t0
    self_s = dict.fromkeys(LAYERS, 0.0)
    cuts = sorted({t0, t1, *(min(max(x, t0), t1) for s in stages for x in (s.submit, s.end))})
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = {s.layer for s in stages if s.submit <= mid < s.end}
        if active:
            self_s[min(active, key=LAYERS.index)] += b - a
    out: dict[str, float] = {"wall_s": wall, "jobs": len(jobs), "stages": len(stages)}
    for layer in LAYERS:
        mine = [s for s in stages if s.layer == layer]
        tasks = [t for s in mine for t in s.tasks]
        out[f"{layer}.stage_s"] = self_s[layer]
        out[f"{layer}.task_s"] = sum(t.run_s for t in tasks)
        out[f"{layer}.tasks"] = len(tasks)
        runs = [t.run_s for t in tasks]
        med = statistics.median(runs) if runs else 0.0
        out[f"{layer}.task_skew"] = max(runs) / med if med > 0 else 0.0
    every = [t for s in stages for t in s.tasks]
    out["merge.shuffle_bytes"] = sum(t.shuffle_write for t in every)
    out["merge.spill_bytes"] = sum(t.spill for t in every)
    out["jvm.gc_s"] = sum(t.gc_s for t in every)
    writes = [s for s in stages if s.layer == "write"]
    out["write.bytes"] = sum(t.out_bytes for s in writes for t in s.tasks)
    out["driver.gap_s"] = wall - _union(jobs, t0, t1)
    out["trace.coverage"] = (sum(self_s.values()) + out["driver.gap_s"]) / wall
    return out
