"""Spans recorded around the benchmark's calls into each layer, and an
offline parser for Spark's own event log.

Spans live in memory and are written once when the run ends. Their
clock is ``time.time()`` so they line up with the event log's epoch
millisecond timestamps.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# Task-level SQL metrics of the Python-worker operators (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...).
PYTHON_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, pass_no: int = 0):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "pass": pass_no,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover.
    Children of one span never overlap (one client thread)."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in spans}


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += st[s["id"]]
    return dict(out)


def _event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in Spark 4's
    ``eventlog_v2_<app>/events_<n>_<app>`` layout, in order."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: its group, description, submit/end
    epoch seconds and the summed metrics of the tasks of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "job": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "description": props.get("spark.job.description"),
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": 0,
                        "tasks": 0,
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                        "python_bytes": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(e["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_s"] += m["Executor Run Time"] / 1000.0
                    j["cpu_s"] += m["Executor CPU Time"] / 1e9
                    j["gc_s"] += m["JVM GC Time"] / 1000.0
                    rd = m.get("Shuffle Read Metrics", {})
                    j["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    j["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    for acc in e.get("Task Info", {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_BYTES_METRICS:
                            j["python_bytes"] += int(acc.get("Update") or 0)
    return [jobs[k] for k in sorted(jobs)]


def jobs_within(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs submitted inside the epoch interval [start, end]."""
    return [j for j in jobs if start <= j["submit"] <= end]
