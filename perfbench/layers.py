"""Per-layer metrics of a traced run, from its spans and event log.

Layers are named after the program's modules.  Every metric is printed
on every workload; a layer the workload does not enter reads 0 (the
prediction for a change to that layer on that workload is "no change").
Values are per pass: totals over the traced passes divided by their
number.
"""

from __future__ import annotations

import statistics

from eventlog import EventLog, task_skew, totals
from tracing import Span, self_times
from workloads import HEAVY_CHECKS, QUERY_NAMES

PER_LAYER: list[tuple[str, str]] = [
    ("session.get_spark_s", "s"),
    ("sources.sequences_scans", "count"),
    ("sources.input_bytes", "bytes"),
    ("sources.sequences_bytes", "bytes"),
    ("fused.wall_s", "s"),
    ("fused.executor_s", "s"),
    ("shared.builds", "count"),
    ("shared.hits", "count"),
    ("shared.build_s", "s"),
    ("shared.wait_s", "s"),
    ("shared.cached_bytes", "bytes"),
    ("shared.executor_s", "s"),
    *[(f"check.{c}.{m}", "s") for c in HEAVY_CHECKS
      for m in ("wall_s", "executor_s")],
    ("checks.small_wall_sum_s", "s"),
    ("runner.spark_jobs", "count"),
    ("runner.sql_executions", "count"),
    ("runner.tasks", "count"),
    ("runner.executor_s", "s"),
    ("runner.unattributed_jobs", "count"),
    ("runner.executor_busy_ratio", "fraction"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
    ("checkpoint.completed_map_s", "s"),
    ("checkpoint.append_s", "s"),
    ("checkpoint.rows_appended", "count"),
    ("checkpoint.skip_ratio", "fraction"),
    ("funnel.violations_write_s", "s"),
    ("funnel.violation_rows", "count"),
    ("fleet.target_wall_s", "s"),
    *[(f"query.{q}.s", "s") for q in QUERY_NAMES],
    ("queries.shuffle_write_bytes", "bytes"),
    ("jvm.driver_rss_bytes", "bytes"),
    ("trace.pass_wall_s", "s"),
    ("bench.datagen_s", "s"),
]


def _is_sequences(location: str) -> bool:
    # InMemoryFileIndex(1 paths)[file:/.../data/sequences]
    return location.rstrip("]").rstrip("/").endswith("/sequences")


def compute(spans: list[Span], log: EventLog, windows: list[tuple[float, float]],
            cores: int, passes: list, small_checks: set[str],
            info: dict) -> dict[str, float]:
    """``windows`` are the traced passes' (start, end) epoch seconds;
    ``passes`` their PassResults; ``small_checks`` the checks that do not
    read ``sequences``; ``info`` carries ``get_spark_s``,
    ``driver_rss_bytes`` and ``datagen_s``."""
    n = max(len(windows), 1)
    jobs = [j for w in windows for j in log.jobs_in(*w)]
    stages = log.stages_of(jobs)
    by_span = log.stages_by_span(stages)
    name_of = {s.id: s.name for s in spans}
    selfs = self_times(spans)

    def named(pred) -> list[Span]:
        return [s for s in spans if pred(s.name)]

    def wall(pred) -> float:
        return sum(s.duration for s in named(pred)) / n

    def stage_total(pred, key: str) -> float:
        picked = [st for sid, sts in by_span.items()
                  if sid is not None and pred(name_of.get(sid, ""))
                  for st in sts]
        return totals(picked)[key] / n

    def executor(pred) -> float:
        return stage_total(pred, "executor_s")

    scans = [s for w in windows for s in log.scans_in(*w)]
    seq_scans = [s for s in scans if _is_sequences(s.location)]
    builds = named(lambda x: x.startswith("shared.build:"))
    gets = named(lambda x: x.startswith("shared.get:"))
    appends = named(lambda x: x == "checkpoint.append")
    fleets = {s.id for s in named(lambda x: x == "fleet")}
    fleet_targets = [s for s in named(lambda x: x == "runner.run")
                     if s.parent in fleets]
    tot = totals(stages)
    pass_walls = [p.wall_s for p in passes]

    m: dict[str, float] = {
        "session.get_spark_s": info["get_spark_s"],
        "sources.sequences_scans": len(seq_scans) / n,
        "sources.input_bytes": sum(s.bytes for s in scans) / n,
        "sources.sequences_bytes": sum(s.bytes for s in seq_scans) / n,
        "fused.wall_s": wall(lambda x: x == "fused"),
        "fused.executor_s": executor(lambda x: x == "fused"),
        "shared.builds": len(builds) / n,
        "shared.hits": (len(gets) - len(builds)) / n,
        "shared.build_s": sum(b.duration for b in builds) / n,
        # a get's self time is the wait on the key's lock (plus lookup)
        "shared.wait_s": sum(selfs[g.id] for g in gets) / n,
        "shared.cached_bytes": max(
            (b.attrs.get("cached_bytes", 0) for b in builds), default=0),
        "shared.executor_s": executor(
            lambda x: x.startswith("shared.build:")),
    }
    for c in HEAVY_CHECKS:
        m[f"check.{c}.wall_s"] = wall(lambda x, c=c: x == f"check:{c}")
        m[f"check.{c}.executor_s"] = executor(lambda x, c=c: x == f"check:{c}")
    m["checks.small_wall_sum_s"] = wall(
        lambda x: x.startswith("check:") and x[6:] in small_checks)
    m.update({
        "runner.spark_jobs": len(jobs) / n,
        "runner.sql_executions": sum(
            len(log.executions_in(*w)) for w in windows) / n,
        "runner.tasks": tot["tasks"] / n,
        "runner.executor_s": tot["executor_s"] / n,
        "runner.unattributed_jobs": sum(
            1 for j in jobs if j.span is None) / n,
        "runner.executor_busy_ratio": (
            tot["executor_s"] / (sum(pass_walls) * cores)
            if pass_walls else 0.0),
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.task_skew": task_skew(stages),
        "checkpoint.completed_map_s": wall(
            lambda x: x == "checkpoint.completed_map"),
        "checkpoint.append_s": wall(lambda x: x == "checkpoint.append"),
        "checkpoint.rows_appended": sum(
            a.attrs.get("rows", 0) for a in appends) / n,
        # share of the resume leg's verdicts that the checkpoint skipped
        "checkpoint.skip_ratio": (
            sum(p.details.get("resume_skipped", 0) for p in passes)
            / max(sum(p.details.get("resume_verdicts", 0) for p in passes), 1)),
        "funnel.violations_write_s": wall(lambda x: x == "funnel.write"),
        "funnel.violation_rows": sum(
            p.details.get("violation_rows", 0) for p in passes) / n,
        # one Runner.run per fleet target
        "fleet.target_wall_s": (
            statistics.mean(t.duration for t in fleet_targets)
            if fleet_targets else 0.0),
    })
    for q in QUERY_NAMES:
        m[f"query.{q}.s"] = wall(lambda x, q=q: x == f"query:{q}")
    m["queries.shuffle_write_bytes"] = stage_total(
        lambda x: x.startswith("query:"), "shuffle_write_bytes")
    m["jvm.driver_rss_bytes"] = info.get("driver_rss_bytes", 0)
    m["trace.pass_wall_s"] = (statistics.median(pass_walls)
                              if pass_walls else 0.0)
    m["bench.datagen_s"] = info["datagen_s"]
    return m
