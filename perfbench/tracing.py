"""In-memory spans around the calls into each layer, for the traced run.

A span records name, start, end, parent and pass id.  Opening a span
also sets the calling thread's ``spark.job.description`` to
``pb:<span id>:<name>`` (restored on close), so Spark's event log names
the innermost open span for every job, stage and SQL execution the
thread submits (``eventlog.py`` reads it back).  PySpark pins local
properties to the Python thread, which is why the description is set in
the same thread that makes the call: the Runner's pooled check threads
each open their own spans.

``install`` wraps the entry points the program calls internally; the
benchmark opens spans itself around the calls it makes (a pass, the
fleet re-validation, the violations sink, one query).  The program is never
edited: spans inside the program would be a change of their own.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

DESCRIPTION = "spark.job.description"
PREFIX = "pb:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def description(span: Span) -> str:
    return f"{PREFIX}{span.id}:{span.name}"


def span_id_of(desc: str | None) -> int | None:
    """The span id a job description names, or None for a job that no
    span covered."""
    if not desc or not desc.startswith(PREFIX):
        return None
    head = desc[len(PREFIX):].split(":", 1)[0]
    return int(head) if head.isdigit() else None


class Tracer:
    """Collects spans from any thread.  ``sc`` is the SparkContext whose
    thread-local job description each span sets; None records spans
    only (tests)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.pass_id: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # innermost span open on the main thread: the parent of a span
        # that opens on a pool thread with nothing open yet
        self._ambient: Span | None = None

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._ambient
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, parent.id if parent else None, self.pass_id,
                 time.time(), attrs=dict(attrs))
        on_main = threading.current_thread() is threading.main_thread()
        prev_desc = None
        if self.sc is not None:
            prev_desc = self.sc.getLocalProperty(DESCRIPTION)
            self.sc.setLocalProperty(DESCRIPTION, description(s))
        stack.append(s)
        prev_ambient = self._ambient
        if on_main:
            self._ambient = s
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if on_main:
                self._ambient = prev_ambient
            if self.sc is not None:
                self.sc.setLocalProperty(DESCRIPTION, prev_desc)
            with self._lock:
                self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.id):
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its child spans cover (children may overlap each other
    when they ran on a thread pool; covered time counts once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, lo_run, hi_run = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo = max(c.start, s.start)
            hi = min(c.start + c.duration, s.start + s.duration)
            if hi <= lo:
                continue
            if hi_run is not None and lo <= hi_run:
                hi_run = max(hi_run, hi)
                continue
            if hi_run is not None:
                covered += hi_run - lo_run
            lo_run, hi_run = lo, hi
        if hi_run is not None:
            covered += hi_run - lo_run
        out[s.id] = s.duration - covered
    return out


def _cached_bytes(sc) -> int:
    """Memory plus disk bytes of every cached RDD right now."""
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in sc._jsc.sc().getRDDStorageInfo())


def install(tracer: Tracer):
    """Wrap the layer entry points the Runner calls internally; returns a
    function that restores the originals.

    The fused-scan span wraps ``Runner._run_fused``, the method that
    calls ``fused_violation_counts`` / ``fused_violation_rows`` and
    collects the counts: those two return lazy DataFrames, so spans
    around them alone would time plan construction, not the scan.
    """
    from ensembl_datacheck_spark.plans import checkpoint as ck
    from ensembl_datacheck_spark.plans import runner as rn

    saved = [
        (rn.Runner, "run", rn.Runner.run),
        (rn, "run_check", rn.run_check),
        (rn.Runner, "_run_fused", rn.Runner._run_fused),
        (rn.SharedComputations, "get", rn.SharedComputations.get),
        (ck.CheckpointStore, "completed_map", ck.CheckpointStore.completed_map),
        (ck.CheckpointStore, "append", ck.CheckpointStore.append),
    ]
    orig = {name: fn for _, name, fn in saved}

    @functools.wraps(orig["run"])
    def runner_run(self, *args, **kwargs):
        # one span per validation run: the CLI leg, and one per fleet
        # target inside run_fleet
        with tracer.span("runner.run"):
            return orig["run"](self, *args, **kwargs)

    @functools.wraps(orig["run_check"])
    def run_check(spec, *args, **kwargs):
        with tracer.span(f"check:{spec.name}"):
            return orig["run_check"](spec, *args, **kwargs)

    @functools.wraps(orig["_run_fused"])
    def run_fused(self, specs, *args, **kwargs):
        with tracer.span("fused", checks=len(specs)):
            return orig["_run_fused"](self, specs, *args, **kwargs)

    @functools.wraps(orig["get"])
    def shared_get(self, key, fn):
        kind = key.split(":", 1)[0]

        def build():
            with tracer.span(f"shared.build:{kind}") as b:
                value = fn()
                if tracer.sc is not None:
                    b.attrs["cached_bytes"] = _cached_bytes(tracer.sc)
                return value

        with tracer.span(f"shared.get:{kind}"):
            return orig["get"](self, key, build)

    @functools.wraps(orig["completed_map"])
    def completed_map(self, lineage):
        with tracer.span("checkpoint.completed_map"):
            return orig["completed_map"](self, lineage)

    @functools.wraps(orig["append"])
    def append(self, rows):
        with tracer.span("checkpoint.append", rows=len(rows)):
            return orig["append"](self, rows)

    rn.Runner.run = runner_run
    rn.run_check = run_check
    rn.Runner._run_fused = run_fused
    rn.SharedComputations.get = shared_get
    ck.CheckpointStore.completed_map = completed_map
    ck.CheckpointStore.append = append

    def restore():
        for owner, name, fn in saved:
            setattr(owner, name, fn)

    return restore
