"""Spans around the benchmark's calls into the package, and per-layer
counters read from Spark's own records.

A span is (name, start, end, parent, run id). In a traced run every
span that submits work also tags it with a Spark job group, and the
session writes Spark's event log; after the session stops, the log is
folded into per-span job/stage/task counts, bytes and task times.
Everything is kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metrics of the Arrow/pandas UDF operators (Spark 4 names).
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"

_WRAPPERS = {"STAGE_MATERIALIZATION_MULTIPLE_FAILURES", "INTERNAL_ERROR"}


def error_class(exc: BaseException) -> str:
    """The most specific Spark error class in an exception, e.g.
    'INVALID_ARRAY_INDEX_IN_ELEMENT_AT', else the exception type."""
    found = [c for c in re.findall(r"\[([A-Z][A-Z0-9_]{3,})\]", str(exc)) if c not in _WRAPPERS]
    return found[0] if found else type(exc).__name__


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time a block; with ``jobs`` (and tracing on) every Spark job
        it submits is tagged with this span's job group."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.enabled and jobs:
            rec["group"] = f"{self.run_id}:{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled and jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def cache_state(spark) -> dict:
    """Bytes pinned in Spark's block manager and temp views in the
    catalog: the serving state the package keeps between calls."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    pinned = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
    views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    return {"pinned_bytes": pinned, "temp_views": views}


def empty_counts() -> dict:
    """The per-job-group counters, all zero."""
    return {
        "jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "input_bytes": 0, "task_busy_s": 0.0, "task_queue_s": 0.0,
        "python_boot_s": 0.0, "python_bytes_sent": 0,
    }


def _acc(task_info: dict, name: str) -> float:
    return sum(
        float(a.get("Update", 0) or 0)
        for a in task_info.get("Accumulables", [])
        if a.get("Name") == name
    )


def fold_event_log(log_dir: str) -> tuple[dict[str, dict], list[tuple]]:
    """Per job group: counts, bytes and task times from the event log.
    Also returns every job's (group, submit s, end s) interval, for the
    driver-side time of a span (its wall time no job covers)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    groups: dict[str, dict] = defaultdict(empty_counts)
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    listed: set[int] = set()
    intervals: list[tuple] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev.get("Submission Time", 0) / 1000
                stages = ev.get("Stage IDs", [])
                if g is not None:
                    groups[g]["jobs"] += 1
                    # a stage an earlier job already listed is reused
                    # (its shuffle output exists), not run again
                    groups[g]["stages_skipped"] += sum(1 for s in stages if s in listed)
                listed.update(stages)
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                intervals.append((g, job_start.get(ev["Job ID"], 0), ev.get("Completion Time", 0) / 1000))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[sid] = g
                if g is not None:
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                acc = groups[g]
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                acc["tasks"] += 1
                sr = tm.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                acc["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                acc["task_busy_s"] += tm.get("Executor Run Time", 0) / 1000
                acc["python_boot_s"] += _acc(ti, PY_BOOT) / 1000
                acc["python_bytes_sent"] += int(_acc(ti, PY_SENT))
                acc.setdefault("_launch", []).append((ev["Stage ID"], ti.get("Launch Time", 0) / 1000))
    for acc in groups.values():
        for sid, launch in acc.pop("_launch", []):
            acc["task_queue_s"] += max(0.0, launch - stage_submit.get(sid, launch))
    return dict(groups), intervals


def covered(intervals: list[tuple], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    spans = sorted((max(a, start), min(b, end)) for _, a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
