"""Per-layer tracing from outside the program.

A layer is a module of the package. In a traced run every public
module-level function of each layer module is wrapped in a span, and each
benchmark operation opens a root span of layer ``benchmark``. Spans are
attributed by module, not by function, so functions may be merged or
renamed without touching the benchmark.

Spark's own counters come from its event log. A job belongs to the package
module named in its recorded call site (``callSite.short``); see
``attribute_jobs`` for jobs without one.

Time inside an operation is split exclusively: an instant at which a Spark
job runs belongs to that job's layer (``spark``), any other instant to the
innermost open span (``driver``). The two shares of every layer therefore
add up to the operation's wall time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import re
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "pyf_aggregator_spark"
LAYERS = [
    "session",
    "index.builder",
    "index.segments",
    "index.codec",
    "index.placement",
    "index.incremental",
    "search.wand",
    "search.api",
    "search.typo",
    "search.prefix",
    "search.fallback",
    "operators.fulltext_extra",
]
BENCH = "benchmark"
_CALLSITE_RE = re.compile(r"/" + PKG + r"/([\w/]+)\.py:")


@dataclass
class Span:
    layer: str
    name: str
    start: float
    depth: int
    end: float = 0.0


@dataclass
class Op:
    kind: str
    timed: bool
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    _depth: int = 0
    _undo: list = field(default_factory=list)

    def install(self) -> None:
        """Wrap every public function of each layer module, wherever the
        package holds a reference to it."""
        wrapped = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, fn in vars(mod).items():
                if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                        and not name.startswith("_")):
                    wrapped[id(fn)] = self._wrap(layer, fn)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for name, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._undo.append((mod, name, val))
                    setattr(mod, name, w)

    def uninstall(self) -> None:
        for mod, name, val in reversed(self._undo):
            setattr(mod, name, val)
        self._undo.clear()

    def _wrap(self, layer: str, fn):
        # functools.wraps keeps __module__/__qualname__, so a kernel that
        # references the function still pickles it by name, and workers
        # (which never see the wrapper) import the original
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = Span(layer, fn.__name__, time.time(), self._depth)
            self._depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                span.end = time.time()
                self.spans.append(span)

        return traced

    @contextlib.contextmanager
    def op(self, kind: str, timed: bool):
        """Root span of one benchmark operation."""
        op = Op(kind, timed, time.time())
        span = Span(BENCH, kind, op.start, self._depth)
        self._depth += 1
        try:
            yield
        finally:
            self._depth -= 1
            op.end = span.end = time.time()
            self.spans.append(span)
            self.ops.append(op)

    def overhead_per_call(self, n: int = 20000) -> float:
        """Seconds one span adds to a call, measured on a no-op."""
        def noop():
            return None

        traced = self._wrap(BENCH, noop)
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        bare = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            traced()
        cost = time.perf_counter() - t0
        del self.spans[-n:]
        return max(cost - bare, 0.0) / n


# ---------------------------------------------------------------- event log

@dataclass
class Job:
    submit: float
    end: float
    callsite: str | None
    stages: list[int]
    layer: str = BENCH


@dataclass
class Task:
    launch: float
    finish: float
    run_s: float
    failed: bool
    shuffle_write: int
    spill: int
    py_in: int
    py_out: int


def read_event_log(path: str) -> tuple[list[Job], dict[int, list[Task]]]:
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[Task]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Submission Time"] / 1e3, 0.0,
                    ev.get("Properties", {}).get("callSite.short"),
                    ev["Stage IDs"],
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                acc = {a.get("Name"): int(a.get("Update", 0) or 0)
                       for a in info.get("Accumulables", [])
                       if str(a.get("Update", "")).isdigit()}
                tasks[ev["Stage ID"]].append(Task(
                    info["Launch Time"] / 1e3,
                    info["Finish Time"] / 1e3,
                    m.get("Executor Run Time", 0) / 1e3,
                    bool(info.get("Failed") or info.get("Killed")),
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    acc.get("data sent to Python workers", 0),
                    acc.get("data returned from Python workers", 0),
                ))
    # a stage reused by a later job is listed there too but ran once; it
    # belongs to the first job that lists it
    seen: set[int] = set()
    for jid in sorted(jobs):
        jobs[jid].stages = [s for s in jobs[jid].stages if s not in seen]
        seen.update(jobs[jid].stages)
    return [j for j in jobs.values() if j.end], tasks


# ---------------------------------------------------------------- attribution

def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or s.depth > best.depth):
            best = s
    return best


def attribute_jobs(jobs: list[Job], spans: list[Span], ops: list[Op]) -> None:
    """Layer of each job: the package module in its call site; else the
    innermost span open at submission; else, inside an operation, the
    layer of the span that closed last before it, which built the lazy
    DataFrame the benchmark then collected."""
    for j in jobs:
        m = _CALLSITE_RE.search(j.callsite or "")
        layer = m.group(1).replace("/", ".") if m else None
        if layer not in LAYERS:
            s = _innermost(spans, j.submit)
            if s is not None and s.layer == BENCH:
                op = next(o for o in ops if o.start <= j.submit < o.end)
                closed = [c for c in spans if op.start <= c.start and c.end <= j.submit
                          and c.layer != BENCH]
                if closed:
                    s = max(closed, key=lambda c: c.end)
            layer = s.layer if s else BENCH
        j.layer = layer


def split_op(op: Op, spans: list[Span], jobs: list[Job]) -> tuple[dict, dict]:
    """→ ({layer: driver seconds}, {layer: spark seconds}) for one op."""
    inside = [s for s in spans if s.start >= op.start and s.end <= op.end]
    running = [j for j in jobs if op.start <= j.submit < op.end]
    pts = {op.start, op.end}
    for s in inside:
        pts.update((s.start, s.end))
    for j in running:
        pts.update((j.submit, min(j.end, op.end)))
    pts = sorted(pts)
    driver: dict[str, float] = defaultdict(float)
    spark: dict[str, float] = defaultdict(float)
    for a, b in zip(pts, pts[1:]):
        mid = (a + b) / 2
        active = [j for j in running if j.submit <= mid < j.end]
        if active:
            spark[max(active, key=lambda j: j.submit).layer] += b - a
        else:
            s = _innermost(inside, mid)
            driver[s.layer if s else BENCH] += b - a
    return driver, spark


def task_skew(stage_tasks: list[Task]) -> float:
    """Slowest ÷ median task run time of one stage."""
    runs = [t.run_s for t in stage_tasks]
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0


def python_stages(jobs: list[Job], tasks: dict[int, list[Task]]) -> list[list[Task]]:
    """Stages of these jobs that ran a Python (pandas UDF) kernel."""
    out = []
    for j in jobs:
        for sid in j.stages:
            ts = tasks.get(sid, [])
            if ts and any(t.py_in for t in ts):
                out.append(ts)
    return out


def jobs_within(jobs: list[Job], spans: list[Span]) -> list[Job]:
    return [j for j in jobs if any(s.start <= j.submit < s.end for s in spans)]


def outermost(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` not nested in another span of the same layer."""
    own = sorted((s for s in spans if s.layer == layer), key=lambda s: s.start)
    out: list[Span] = []
    for s in own:
        if not out or s.start >= out[-1].end:
            out.append(s)
    return out
