"""Per-layer numbers from Spark's own event log.

The traced run starts Spark with ``spark.eventLog.enabled`` (uncompressed)
and tags every job with a job group ``<workload>:<op>:<phase>``. This
module reads the log back, attributes each job to the op that launched it
and sums stage and task statistics per op. Jobs whose group is not one of
ours (a streaming micro-batch sets its own) are attributed by submission
time to the op span that was open then.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

# Python/Arrow stage SQL metrics, summed per op. "time to initialize
# Python workers" is kept per task instead: a reused worker reports its
# one-off initialization again on every task it serves, so a sum would
# count it many times over.
PYTHON_METRICS = {
    "time to run Python workers": "run_ms",
    "time to start Python workers": "start_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
}
PYTHON_INIT = "time to initialize Python workers"


@dataclass
class Stage:
    tasks: int = 0
    run_ms: list[int] = field(default_factory=list)


@dataclass
class OpStats:
    """Sums over every job attributed to one op (one job group)."""

    jobs: int = 0
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_disk_bytes: int = 0
    python: dict[str, int] = field(default_factory=dict)
    python_init_ms: list[int] = field(default_factory=list)


@dataclass
class Log:
    by_group: dict[str, OpStats]
    progress: list[dict]  # streaming QueryProgressEvent payloads


def _files(log_dir: str) -> list[str]:
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]

    def key(p: str):  # rolling logs: events_<n>_<app>, in n order
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    return sorted(paths, key=key)


def _events(log_dir: str):
    for path in _files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def parse(log_dir: str, spans: list[tuple[str, float, float]]) -> Log:
    """Read every event file under ``log_dir``.

    ``spans`` are ``(group, start_s, end_s)`` wall-clock intervals (epoch
    seconds) of the benchmark's own op spans; they place jobs whose group
    the benchmark did not set.
    """
    ordered = sorted(spans, key=lambda s: s[1])
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    by_group: dict[str, OpStats] = {}
    progress: list[dict] = []

    def by_time(ms: int) -> str | None:
        t = ms / 1000.0
        for group, start, end in ordered:
            if start <= t <= end:
                return group
        return None

    for e in _events(log_dir):
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if group.count(":") < 2:
                group = by_time(e.get("Submission Time", 0)) or "unattributed"
            job_group[e["Job ID"]] = group
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            by_group.setdefault(group, OpStats()).jobs += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"], "unattributed")
            op = by_group.setdefault(group, OpStats())
            stage = op.stages.setdefault((e["Stage ID"], e["Stage Attempt ID"]), Stage())
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            stage.tasks += 1
            op.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                op.failed_tasks += 1
            run = int(m.get("Executor Run Time", 0))
            stage.run_ms.append(run)
            op.run_ms += run
            op.cpu_ns += int(m.get("Executor CPU Time", 0))
            op.gc_ms += int(m.get("JVM GC Time", 0))
            op.spill_disk_bytes += int(m.get("Disk Bytes Spilled", 0))
            op.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
            op.output_bytes += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            op.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0))
            op.fetch_wait_ms += int(sr.get("Fetch Wait Time", 0))
            op.shuffle_write_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            for acc in info.get("Accumulables", []):
                name, update = acc.get("Name"), int(float(acc.get("Update") or 0))
                if name == PYTHON_INIT:
                    op.python_init_ms.append(update)
                elif name in PYTHON_METRICS:
                    key = PYTHON_METRICS[name]
                    op.python[key] = op.python.get(key, 0) + update
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress.append(e.get("progress") or {})
    return Log(by_group=by_group, progress=progress)


def straggler_ratio(stages: list[Stage]) -> float:
    """Median over multi-task stages of (slowest task / median task)."""
    ratios = [max(s.run_ms) / max(1.0, statistics.median(s.run_ms))
              for s in stages if len(s.run_ms) >= 2]
    return statistics.median(ratios) if ratios else 1.0


def streaming_summary(progress: list[dict]) -> dict[str, float]:
    """Mean per-micro-batch durations from ``QueryProgressEvent``s."""
    batches = [p for p in progress if (p.get("durationMs") or {}).get("addBatch") is not None]
    if not batches:
        return {"batches": 0, "add_batch_s": 0.0, "wal_commit_s": 0.0,
                "planning_s": 0.0, "state_commit_s": 0.0}

    def mean_ms(get) -> float:
        return sum(get(p) for p in batches) / len(batches) / 1000.0

    return {
        "batches": len(batches),
        "add_batch_s": mean_ms(lambda p: p["durationMs"].get("addBatch", 0)),
        "wal_commit_s": mean_ms(lambda p: p["durationMs"].get("walCommit", 0)),
        "planning_s": mean_ms(lambda p: p["durationMs"].get("queryPlanning", 0)),
        "state_commit_s": mean_ms(
            lambda p: sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators") or [])),
    }
