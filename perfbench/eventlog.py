"""Reader for Spark's JSON event log, attributing work to spans.

The traced run enables the event log uncompressed: Python's standard
library cannot read Spark's default zstd codec.  Spark 4 writes it as a
rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory; older layouts
write one ``<app>`` file.  Both are read.

Attribution: every job, stage and SQL execution carries the job
description of the thread that submitted it, which a span set to
``pb:<span id>:<name>`` (``tracing.py``).  A job without one is
unattributed.

Scans: a parquet ``FileSourceScanExec`` posts its driver-side metrics
(``number of files read``, ``size of files read``) under the SQL
execution that actually reads the files.  An execution that only reads a
cached relation or a reused exchange still shows the scan node in its
plan but posts nothing for it, so a scan counts once per posted
``size of files read``, never once per plan node.  Task ``Input
Metrics`` are not used for scan bytes: they miss most parquet reads.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

from tracing import span_id_of

SIZE_READ = "size of files read"


@dataclass
class Job:
    id: int
    desc: str | None
    submit_ms: int
    stage_ids: list[int]

    @property
    def span(self) -> int | None:
        return span_id_of(self.desc)


@dataclass
class Stage:
    id: int
    desc: str | None = None
    task_run_ms: list[int] = field(default_factory=list)
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


@dataclass
class Scan:
    exec_id: int
    location: str
    bytes: int
    desc: str | None

    @property
    def span(self) -> int | None:
        return span_id_of(self.desc)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order."""
    out = []
    for root, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith((".", "appstatus")) or name.endswith(".crc"):
                continue
            out.append(os.path.join(root, name))

    def order(path):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (int(m.group(1)) if m else 0, path)

    return sorted(out, key=order)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in event_files(log_dir):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _short(event: str) -> str:
    return event.rsplit(".", 1)[-1]


def _scan_metrics(node: dict, out: dict[int, str]) -> None:
    """accumulator id of ``size of files read`` -> scanned location, for
    every file scan in a plan tree."""
    if node.get("nodeName", "").startswith("Scan "):
        loc = node.get("metadata", {}).get("Location", "")
        for m in node.get("metrics", ()):
            if m.get("name") == SIZE_READ:
                out[m["accumulatorId"]] = loc
    for child in node.get("children", ()):
        _scan_metrics(child, out)


class EventLog:
    def __init__(self, events: list[dict]):
        self.jobs: list[Job] = []
        self.stages: dict[int, Stage] = {}
        self.exec_time_ms: dict[int, int] = {}
        self.exec_desc: dict[int, str | None] = {}
        self.scans: list[Scan] = []
        scan_accums: dict[int, dict[int, str]] = {}
        pending_updates: list[tuple[int, int, int]] = []
        for e in events:
            kind = _short(e.get("Event", ""))
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs.append(Job(
                    e["Job ID"], props.get("spark.job.description"),
                    e["Submission Time"], list(e.get("Stage IDs", ()))))
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                stage = self.stages.setdefault(sid, Stage(sid))
                stage.desc = (e.get("Properties") or {}).get(
                    "spark.job.description")
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                stage = self.stages.setdefault(sid, Stage(sid))
                m = e.get("Task Metrics") or {}
                stage.task_run_ms.append(m.get("Executor Run Time", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                stage.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                stage.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                stage.spill += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
            elif kind in ("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = e["executionId"]
                if kind == "SparkListenerSQLExecutionStart":
                    self.exec_time_ms[ex] = e["time"]
                    self.exec_desc[ex] = e.get("description")
                _scan_metrics(e.get("sparkPlanInfo") or {},
                              scan_accums.setdefault(ex, {}))
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc, value in e.get("accumUpdates", ()):
                    pending_updates.append((e["executionId"], acc, value))
        for ex, acc, value in pending_updates:
            loc = scan_accums.get(ex, {}).get(acc)
            if loc is not None:
                self.scans.append(
                    Scan(ex, loc, int(value), self.exec_desc.get(ex)))

    # --- selection by time window (seconds since the epoch) ---

    def jobs_in(self, t0: float, t1: float) -> list[Job]:
        lo, hi = t0 * 1000, t1 * 1000
        return [j for j in self.jobs if lo <= j.submit_ms <= hi]

    def executions_in(self, t0: float, t1: float) -> list[int]:
        lo, hi = t0 * 1000, t1 * 1000
        return [x for x, t in self.exec_time_ms.items() if lo <= t <= hi]

    def scans_in(self, t0: float, t1: float) -> list[Scan]:
        ex = set(self.executions_in(t0, t1))
        return [s for s in self.scans if s.exec_id in ex]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        """Stages of ``jobs`` that ran tasks, each once (a stage listed
        by two jobs ran in one and was skipped in the other)."""
        ids = {sid for j in jobs for sid in j.stage_ids}
        return [self.stages[i] for i in sorted(ids)
                if i in self.stages and self.stages[i].task_run_ms]

    def stages_by_span(self, stages: list[Stage]) -> dict[int | None, list[Stage]]:
        out: dict[int | None, list[Stage]] = {}
        for s in stages:
            out.setdefault(span_id_of(s.desc), []).append(s)
        return out


def totals(stages: list[Stage]) -> dict[str, float]:
    return {
        "tasks": sum(len(s.task_run_ms) for s in stages),
        "executor_s": sum(sum(s.task_run_ms) for s in stages) / 1000.0,
        "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "spill_bytes": sum(s.spill for s in stages),
    }


def task_skew(stages: list[Stage]) -> float:
    """Max over median task run time in the stage with the most executor
    time; 1.0 when every task took the same time."""
    if not stages:
        return 0.0
    heavy = max(stages, key=lambda s: sum(s.task_run_ms))
    med = statistics.median(heavy.task_run_ms)
    return max(heavy.task_run_ms) / med if med > 0 else 1.0
