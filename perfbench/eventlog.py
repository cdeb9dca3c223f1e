"""Spark event-log reader and per-stage totals.

Spark 4.1 writes a rolling event log by default: a directory
``eventlog_v2_<app>/`` holding ``events_<n>_<app>[.<codec>]`` parts, each
zstd-compressed. There is no ``zstandard`` module here; pyarrow's
``CompressedInputStream`` decodes the frames.

Task time is ``Executor Run Time``. ``Executor CPU Time`` counts JVM
threads only (the Python workers' CPU is invisible to it), so process CPU
comes from /proc instead (hostenv.ProcTree).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import pyarrow as pa

_PART = re.compile(r"^events_(\d+)_")


def _read_part(path: str) -> bytes:
    if path.endswith(".zstd"):
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
            return s.read()
    with open(path, "rb") as f:  # spark.eventLog.compress=false
        return f.read()


def log_files(path: str) -> list[str]:
    """The event-log parts under ``path`` (a rolling-log directory, or the
    spark.eventLog.dir holding exactly one), in write order."""
    names = os.listdir(path)
    parts = sorted(
        (int(m.group(1)), n) for n in names if (m := _PART.match(n))
    )
    if parts:
        return [os.path.join(path, n) for _, n in parts]
    subdirs = sorted(n for n in names if n.startswith("eventlog_v2_"))
    if len(subdirs) == 1:
        return log_files(os.path.join(path, subdirs[0]))
    raise FileNotFoundError(f"no single event log under {path}: {sorted(names)}")


def read_events(path: str) -> list[dict]:
    events: list[dict] = []
    for part in log_files(path):
        for line in _read_part(part).decode("utf-8").splitlines():
            if line:
                events.append(json.loads(line))
    return events


@dataclass
class Stage:
    stage_id: int
    job_id: int
    description: str
    scopes: set[str]
    task_ms: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    # SQL metric accumulator id -> summed task updates in this stage
    sql: dict[int, int] = field(default_factory=dict)

    @property
    def task_s(self) -> float:
        return sum(self.task_ms) / 1000.0

    @property
    def max_task_s(self) -> float:
        return max(self.task_ms, default=0) / 1000.0

    def has(self, scope_prefix: str) -> bool:
        return any(s.startswith(scope_prefix) for s in self.scopes)


@dataclass
class Job:
    job_id: int
    description: str
    start_ms: int
    end_ms: int = 0


@dataclass
class AppLog:
    stages: dict[int, Stage]
    jobs: dict[int, Job]
    # SQL metric accumulator id -> (MapInArrow node string, metric name)
    arrow_metrics: dict[int, tuple[str, str]]

    def arrow_metric(self, stages: list[Stage], node_substring: str, name: str) -> int:
        """SQL metric ``name`` of the MapInArrow nodes whose plan string
        contains ``node_substring``, summed over ``stages``."""
        ids = {
            acc for acc, (node, metric) in self.arrow_metrics.items()
            if node_substring in node and metric == name
        }
        return sum(v for st in stages for acc, v in st.sql.items() if acc in ids)


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    if node.get("nodeName") == "MapInArrow":
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = (node.get("simpleString", ""), m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse(events: list[dict]) -> AppLog:
    """Fold the events into per-stage and per-job totals. Stages are
    attributed to the job description set on the submitting thread."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    arrow_metrics: dict[int, tuple[str, str]] = {}
    stage_job: dict[int, Job] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            job = Job(e["Job ID"], desc, e["Submission Time"])
            jobs[job.job_id] = job
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            job = stage_job.get(sid)
            st = stages.setdefault(sid, Stage(sid, -1, "", set()))
            st.job_id = job.job_id if job else -1
            st.description = job.description if job else ""
            st.scopes = {
                json.loads(r["Scope"])["name"].strip()
                for r in info.get("RDD Info", []) if r.get("Scope")
            }
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = stages.setdefault(sid, Stage(sid, -1, "", set()))
            m = e.get("Task Metrics")
            if m is None:
                continue
            st.task_ms.append(m["Executor Run Time"])
            st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            st.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Name", "").startswith("internal."):
                    continue
                try:
                    upd = int(a["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                st.sql[a["ID"]] = st.sql.get(a["ID"], 0) + upd
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk_plan(e["sparkPlanInfo"], arrow_metrics)
    return AppLog(stages, jobs, arrow_metrics)


def load(path: str) -> AppLog:
    return parse(read_events(path))
