"""Tests of the benchmark's own logic; no Spark session needed.

  python3 -m pytest perfbench -q

The event-log fixture under ``fixtures/`` is a recorded Spark 4.1 log of
a tiny run, trimmed to the fields the reader uses and split across two
rolling files.  The run read a parquet ``sequences`` table under job
descriptions ``pb:1:check:A`` (one scan), ``pb:2:shared.build`` (scan
into a cached aggregate), ``pb:3:check:B`` (reads only the cached
aggregate) and no description (one scan, plus the write that made the
table).
"""

from __future__ import annotations

import json
import os
import threading
from types import SimpleNamespace

import pytest

import eventlog
import layers
import run
import tracing
from stats import OpCounter, percentile, tail_percentile
from workloads import SuiteFull

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "eventlog_v2_local-1")


@pytest.fixture(scope="module")
def log():
    return eventlog.EventLog(eventlog.read_events(FIXTURE))


def _window(log):
    times = [j.submit_ms for j in log.jobs] + list(log.exec_time_ms.values())
    return (min(times) / 1000 - 1, max(times) / 1000 + 1)


# --- event log reader ---

def test_rolling_files_read_in_order(tmp_path):
    for name in ("events_10_app", "events_2_app", "appstatus_app",
                 ".events_2_app.crc"):
        (tmp_path / name).write_text("")
    names = [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))]
    assert names == ["events_2_app", "events_10_app"]


def test_jobs_attributed_to_spans(log):
    by_span: dict = {}
    for j in log.jobs:
        by_span.setdefault(j.span, []).append(j.id)
    assert by_span == {None: [0, 1, 11, 12], 1: [2, 3, 4],
                       2: [5, 6, 7, 8], 3: [9, 10]}


def test_stage_work_attributed_to_spans(log):
    stages = log.stages_of(log.jobs)
    by_span = {k: [s.id for s in v]
               for k, v in log.stages_by_span(stages).items()}
    # stages skipped by a later job (15, 17, 18 reuse shuffle output)
    # ran no tasks and are not counted
    assert by_span == {None: [0, 2, 20, 22], 1: [3, 4, 6],
                       2: [7, 9, 11, 14], 3: [16, 19]}
    assert eventlog.totals(log.stages_by_span(stages)[1]) == {
        "tasks": 4, "executor_s": 0.8, "shuffle_write_bytes": 467,
        "shuffle_read_bytes": 467, "spill_bytes": 0}


def test_file_scans_count_reads_not_plan_nodes(log):
    scans = [(s.exec_id, s.span) for s in log.scans]
    assert scans == [(1, 1), (2, 2), (4, None)]
    assert all(s.location.endswith("/data/sequences]") for s in log.scans)
    assert {s.bytes for s in log.scans} == {107923}

    # execution 3 shows the scan node (under the cached relation) in its
    # plan, but read no file: it must not count
    def scan_nodes(node):
        own = node["nodeName"].startswith("Scan ")
        return own + sum(scan_nodes(c) for c in node["children"])

    plans = [e for e in eventlog.read_events(FIXTURE)
             if e.get("executionId") == 3 and "sparkPlanInfo" in e]
    assert plans and all(scan_nodes(e["sparkPlanInfo"]) == 1 for e in plans)
    assert 3 not in {s.exec_id for s in log.scans}


def test_task_skew_of_heaviest_stage(log):
    stages = log.stages_of(log.jobs)
    # stage 2 ran tasks of 902, 931, 86 and 77 ms: max / median
    assert eventlog.task_skew(stages) == pytest.approx(931 / 494)
    assert eventlog.task_skew([]) == 0.0


def test_time_window_selects_jobs_and_scans(log):
    cut = log.exec_time_ms[4] / 1000 - 0.001
    late = (cut, cut + 60)
    assert [j.id for j in log.jobs_in(*late)] == [11, 12]
    assert [s.exec_id for s in log.scans_in(*late)] == [4]


# --- spans ---

def _span(sid, name, parent, start, end):
    return tracing.Span(sid, name, parent, 0, start, end)


def test_self_time_subtracts_child_cover_once():
    spans = [
        _span(1, "pass", None, 0.0, 10.0),
        _span(2, "a", 1, 1.0, 4.0),
        _span(3, "b", 1, 3.0, 6.0),    # overlaps a on a pool thread
        _span(4, "c", 1, 8.0, 12.0),   # runs past the parent's end
        _span(5, "a.1", 2, 2.0, 3.0),
    ]
    selfs = tracing.self_times(spans)
    assert selfs[1] == pytest.approx(10 - (5 + 2))
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[5] == pytest.approx(1.0)


class FakeContext:
    """Thread-local job description, as PySpark's pinned threads keep it."""

    def __init__(self):
        self._local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._local, key, None)

    def setLocalProperty(self, key, value):
        setattr(self._local, key, value)


def test_tracer_sets_description_and_parents():
    sc = FakeContext()
    tracer = tracing.Tracer(sc)
    tracer.pass_id = 7
    with tracer.span("pass") as outer:
        with tracer.span("runner.run:fresh") as leg:
            assert sc.getLocalProperty(tracing.DESCRIPTION) == \
                f"pb:{leg.id}:runner.run:fresh"

            def pooled():
                with tracer.span("check:X"):
                    pass

            t = threading.Thread(target=pooled)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
        assert sc.getLocalProperty(tracing.DESCRIPTION) == \
            f"pb:{outer.id}:pass"
    assert sc.getLocalProperty(tracing.DESCRIPTION) is None
    by_name = {s.name: s for s in tracer.spans}
    # a span opened on a pool thread hangs under the main thread's
    # innermost open span
    assert by_name["check:X"].parent == by_name["runner.run:fresh"].id
    assert by_name["runner.run:fresh"].parent == by_name["pass"].id
    assert {s.pass_id for s in tracer.spans} == {7}
    assert tracing.span_id_of(f"pb:{leg.id}:x") == leg.id
    assert tracing.span_id_of("collectToPython at <unknown>:0") is None


# --- statistics ---

def test_percentile_and_tail_rule():
    values = list(range(1, 11))
    assert percentile(values, 50) == 5
    assert percentile(values, 90) == 9
    assert percentile(values, 100) == 10
    # p90 needs 100 samples; below that the tail moves down
    assert tail_percentile(100) == 90
    assert tail_percentile(99) == 80
    assert tail_percentile(41) == 75
    assert tail_percentile(28) == 60
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None
    with pytest.raises(ValueError):
        percentile([], 50)


def test_failed_ratio_counting():
    ops = OpCounter()
    assert ops.failed_ratio == 0.0
    for i in range(8):
        ops.record(f"op{i}", i % 4 != 0, "wrong")
    assert (ops.attempted, ops.failed) == (8, 2)
    assert ops.failed_ratio == 0.25
    assert ops.failures == ["op0: wrong", "op4: wrong"]


def _result(name, status, n=0, skip=None, error=None):
    return SimpleNamespace(check_name=name, status=SimpleNamespace(value=status),
                           n_violations=n, skip_reason=skip, error=error)


def test_suite_golden_counts_each_wrong_verdict():
    wl = SuiteFull.__new__(SuiteFull)
    wl.expected = {"DocIdUnique": 100, "SequencesCompleteness": 80,
                   "SourceReferential": 30, "TokenInvariants": 90}
    summary = SimpleNamespace(results=[
        _result("DocIdUnique", "fail", 100),
        _result("SequencesCompleteness", "fail", 79),      # wrong count
        _result("SourceReferential", "fail", 30),
        _result("RowTotals", "ok"),
        _result("SourcesUsed", "skip", skip="no table"),   # should pass
        _result("EmbeddingHygiene", "skip", skip="no table"),
        _result("NTokDrift", "error", error="Traceback\nValueError: x"),
    ])
    ops = OpCounter()
    wl._check_verdicts(summary, ops)
    # TokenInvariants gave no verdict: a failed operation too
    assert (ops.attempted, ops.failed) == (8, 4)
    assert ops.failures[-1] == "TokenInvariants: no verdict"
    assert "NTokDrift: ValueError: x" in ops.failures


def test_suite_golden_on_resume_leg():
    wl = SuiteFull.__new__(SuiteFull)
    wl.expected = {"DocIdUnique": 100, "SequencesCompleteness": 80,
                   "SourceReferential": 30, "TokenInvariants": 90}
    done = "All tests passed in a previous run"
    summary = SimpleNamespace(results=[
        _result("DocIdUnique", "fail", 100),
        _result("SequencesCompleteness", "fail", 80),
        _result("SourceReferential", "fail", 30),
        _result("TokenInvariants", "fail", 90),
        _result("RowTotals", "skip", skip=done),
        _result("SourcesUsed", "ok"),                       # re-ran
        _result("NTokDrift", "skip", skip="no table"),      # wrong reason
        _result("EmbeddingHygiene", "skip", skip="no table"),
    ])
    ops = OpCounter()
    wl._check_verdicts(summary, ops, resumed=True)
    assert (ops.attempted, ops.failed) == (8, 2)
    assert [f.split(":")[1] for f in ops.failures] == ["SourcesUsed",
                                                       "NTokDrift"]
    assert all(f.startswith("resume:") for f in ops.failures)


# --- metric lists ---

def test_metric_lists_match_benchmark_json(log):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        layers.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == \
        list(run.WORKLOAD_NAMES)


def test_layer_metrics_from_fixture(log):
    t0, t1 = _window(log)
    ms = 1 / 1000
    spans = [
        _span(1, "check:DocIdUnique", None, 1792207283.0, 1792207286.3),
        _span(4, "shared.get:fact_profile", 1, 1792207285.3, 1792207286.3),
        _span(2, "shared.build:fact_profile", 4, 1792207285.4, 1792207286.3),
        _span(3, "check:SourcesUsed", None, 1792207286.3, 1792207287.0),
        _span(5, "shared.get:fact_profile", 3, 1792207286.4, 1792207286.6),
    ]
    spans[2].attrs["cached_bytes"] = 4096
    spans += [
        _span(6, "fleet", None, 1792207287.0, 1792207289.0),
        _span(7, "runner.run", 6, 1792207287.1, 1792207288.9),
    ]
    passes = [SimpleNamespace(wall_s=t1 - t0, details={
        "violation_rows": 3, "resume_verdicts": 8, "resume_skipped": 6})]
    m = layers.compute(spans, log, [(t0, t1)], 2, passes, set(),
                       {"get_spark_s": 1.5, "datagen_s": 2.0,
                        "driver_rss_bytes": 10})
    assert list(m) == [name for name, _ in layers.PER_LAYER]
    assert m["runner.spark_jobs"] == 13
    assert m["runner.unattributed_jobs"] == 4
    assert m["runner.sql_executions"] == 5
    assert m["runner.tasks"] == 29
    assert m["sources.sequences_scans"] == 3
    assert m["sources.sequences_bytes"] == 3 * 107923
    assert m["check.DocIdUnique.executor_s"] == pytest.approx(800 * ms)
    assert m["check.SourcesUsed.executor_s"] == pytest.approx(229 * ms)
    assert m["shared.builds"] == 1 and m["shared.hits"] == 1
    assert m["shared.build_s"] == pytest.approx(0.9)
    # wait: the builder's get outside its build, plus the whole hit
    assert m["shared.wait_s"] == pytest.approx(0.1 + 0.2)
    assert m["shared.cached_bytes"] == 4096
    assert m["funnel.violation_rows"] == 3
    assert m["spark.task_skew"] == pytest.approx(931 / 494)
    assert m["query.dsir_topk_documents.s"] == 0.0
    assert m["checkpoint.skip_ratio"] == 0.75
    assert m["fleet.target_wall_s"] == pytest.approx(1.8)
    stages = log.stages_of(log.jobs_in(t0, t1))
    assert m["runner.executor_s"] == pytest.approx(
        eventlog.totals(stages)["executor_s"])
    # span 2 is the shared build's job description in the fixture
    build = eventlog.totals(log.stages_by_span(stages)[2])["executor_s"]
    assert build > 0
    assert m["shared.executor_s"] == pytest.approx(build)
