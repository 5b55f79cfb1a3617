"""In-memory spans around the engine's layer boundaries, recorded from
the benchmark's side of each call.

``Tracer.install`` replaces the public functions of the traced modules
with thin wrappers and rebinds every reference the already-imported
engine modules hold to them.  It must run before the query registry
imports the query modules, because those bind ``load_table`` and the
operator functions by name when they are imported.

A span records name, layer, start, end, parent span and request id (the
query execution it belongs to).  Each Spark job is credited once, to
the innermost span open on the thread that submitted it: opening a span
sets Spark's per-thread job description to the span's id, and the
status store keeps that description with every job, helper threads
included (Spark copies a thread's properties into the threads that run
its broadcasts and subqueries).  A layer's jobs are the jobs credited to
its spans or to spans below them, each job counted once per layer.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# layer -> (module, function names or None for every public function)
LAYERS: dict[str, tuple[str, list[str] | None]] = {
    "sources.load_table": ("dask_cudf_spark.sources.tables", ["load_table"]),
    "sources.txlog": (
        "dask_cudf_spark.sources.txlog",
        [
            "commit",
            "merge_by_key",
            "change_feed",
            "read_snapshot",
            "stage_commit_data",
            "optimize",
            "vacuum",
        ],
    ),
    "sources.matview": (
        "dask_cudf_spark.sources.matview",
        ["refresh_matview", "read_matview"],
    ),
    "operators.dedup": ("dask_cudf_spark.operators.dedup", None),
    "operators.similarity": ("dask_cudf_spark.operators.similarity", None),
    "operators.ranking": ("dask_cudf_spark.operators.ranking", None),
}
# spans the benchmark opens itself, around each query's two phases
QUERY_LAYERS = ["queries.build", "queries.exec"]

_DESC_KEY = "spark.job.description"
_DESC_PREFIX = "perfbench-span:"


@dataclass
class Span:
    name: str
    layer: str
    request: int
    parent: int | None
    start: float
    nested: bool  # an enclosing span (on any thread) has the same layer
    end: float = 0.0
    # job-id range, kept for the query phases only: they run one after
    # another, so the range holds exactly their jobs
    job_range: tuple[int, int] | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans and py4j call counts for one process.  Recording happens
    only while ``enabled`` is set, so traced and untraced rounds can
    alternate in one run to measure the tracing overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.request = 0
        self._root: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self.py4j_calls = 0
        self._sc = self._dag = None
        # span id each credited job went to, one entry per job
        self._job_spans: list[int] = []

    # -- Spark side -----------------------------------------------------
    def bind(self, spark) -> None:
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    @contextlib.contextmanager
    def _quiet(self):
        """py4j calls the tracer makes itself are not counted."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    def job_counter(self) -> int:
        """Number of Spark jobs submitted so far."""
        with self._quiet():
            return self._dag.nextJobId()

    def _describe(self, sid: int | None) -> None:
        """Tag the jobs this thread submits from now on with span ``sid``."""
        value = None if sid is None else f"{_DESC_PREFIX}{sid}"
        with self._quiet():
            self._sc.setLocalProperty(_DESC_KEY, value)

    def credit_jobs(self, lo: int, hi: int) -> None:
        """Credit jobs ``lo .. hi-1`` (all submitted while tracing) to the
        spans that were innermost on their threads.  A job that carries
        no span id goes to the query phase whose job range holds it."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        phases = [
            (s.job_range, i) for i, s in enumerate(self.spans) if s.job_range
        ]
        for jid in range(lo, hi):
            desc = store.job(jid).description()
            text = desc.get() if desc.isDefined() else ""
            if text.startswith(_DESC_PREFIX):
                self._job_spans.append(int(text[len(_DESC_PREFIX):]))
                continue
            for (a, b), sid in phases:
                if a <= jid < b:
                    self._job_spans.append(sid)
                    break

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _ancestors(self, sid: int | None):
        while sid is not None:
            yield sid
            sid = self.spans[sid].parent

    def open(self, name: str, layer: str) -> int:
        stack = self._stack()
        # a span on a helper thread hangs off the query phase it serves
        parent = stack[-1] if stack else self._root
        with self._lock:
            nested = any(
                self.spans[a].layer == layer for a in self._ancestors(parent)
            )
            sid = len(self.spans)
            self.spans.append(
                Span(name, layer, self.request, parent, time.perf_counter(), nested)
            )
            if parent is not None:
                self.spans[parent].children.append(sid)
        stack.append(sid)
        self._describe(sid)
        return sid

    def close(self, sid: int) -> None:
        end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._describe(stack[-1] if stack else None)
        self.spans[sid].end = end

    @contextlib.contextmanager
    def query_phase(self, layer: str, request: int):
        """One query phase (build or exec), opened by the benchmark; the
        spans of the engine calls it makes become its children."""
        if not self.enabled:
            yield
            return
        self.request = request
        jobs0 = self.job_counter()
        sid = self.open(layer, layer)
        self._root = sid
        try:
            yield
        finally:
            self._root = None
            self.close(sid)
            self.spans[sid].job_range = (jobs0, self.job_counter())

    def _wrap(self, fn, layer: str, label_arg: int | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            name = f"{layer}.{fn.__name__}"
            if label_arg is not None and len(args) > label_arg:
                name = f"{name}:{args[label_arg]}"
            sid = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sid)

        return traced

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        """Wrap the traced functions and count py4j commands.  Call after
        the engine package is imported and before its query modules are."""
        import importlib

        from py4j.java_gateway import GatewayClient

        originals: dict[int, object] = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n
                    for n, f in vars(mod).items()
                    if inspect.isfunction(f)
                    and f.__module__ == modname
                    and not n.startswith("_")
                ]
            for n in names:
                fn = getattr(mod, n)
                # load_table spans carry the table name (its third argument)
                label = 2 if layer == "sources.load_table" else None
                wrapped = self._wrap(fn, layer, label)
                originals[id(fn)] = wrapped
                setattr(mod, n, wrapped)
        # `from x import f` copies made before the wrap now point at it too
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("dask_cudf_spark") or mod is None:
                continue
            for n, v in list(vars(mod).items()):
                if id(v) in originals and inspect.isfunction(v):
                    setattr(mod, n, originals[id(v)])

        # every py4j command, pinned-thread client included, goes through
        # GatewayClient.send_command
        tracer = self
        send = GatewayClient.send_command

        def counted(client, *args, **kwargs):
            if tracer.enabled and not getattr(tracer._local, "quiet", False):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counted

    # -- summaries ------------------------------------------------------
    def _inclusive_jobs(self) -> tuple[dict[str, int], dict[int, int]]:
        """Jobs per layer and per span, each credited job counted once on
        every layer (and span) on its way up to the query phase."""
        by_layer: dict[str, int] = defaultdict(int)
        by_span: dict[int, int] = defaultdict(int)
        for sid in self._job_spans:
            layers = set()
            for a in self._ancestors(sid):
                by_span[a] += 1
                layers.add(self.spans[a].layer)
            for layer in layers:
                by_layer[layer] += 1
        return by_layer, by_span

    def summary(self) -> dict[str, dict[str, float]]:
        """Per layer: calls (outermost spans of the layer), seconds (time
        any span of the layer was open, per request, so overlapping spans
        on two threads count once), self seconds (the same for span time
        not covered by a child span) and jobs."""
        out: dict[str, dict[str, float]] = {}
        for layer in QUERY_LAYERS + list(LAYERS):
            out[layer] = {"calls": 0, "s": 0.0, "jobs": 0, "self_s": 0.0}
        busy: dict[tuple[int, str], list] = defaultdict(list)
        own: dict[tuple[int, str], list] = defaultdict(list)
        for span in self.spans:
            key = (span.request, span.layer)
            busy[key].append((span.start, span.end))
            own[key].extend(_self_intervals(span, self.spans))
            if not span.nested:
                out[span.layer]["calls"] += 1
        for (_, layer), ivs in busy.items():
            out[layer]["s"] += union_s(ivs)
        for (_, layer), ivs in own.items():
            out[layer]["self_s"] += union_s(ivs)
        for layer, n in self._inclusive_jobs()[0].items():
            out[layer]["jobs"] = n
        return out

    def dump(self, path: str, query_names: dict[int, str]) -> None:
        """Write every span as one JSON line; ``query_names`` maps request
        ids to the query each request ran."""
        import json

        jobs = self._inclusive_jobs()[1]
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "layer": s.layer,
                            "request": s.request,
                            "query": query_names.get(s.request),
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "jobs": jobs.get(i, 0),
                            "self_s": sum(b - a for a, b in _self_intervals(s, self.spans)),
                        }
                    )
                    + "\n"
                )


def _merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint cover of a set of (start, end) intervals."""
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(lo, hi) for lo, hi in out]


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    return sum(hi - lo for lo, hi in _merge(intervals))


def _self_intervals(span: Span, spans: list[Span]) -> list[tuple[float, float]]:
    """The parts of a span's interval that none of its children cover."""
    out, at = [], span.start
    for lo, hi in _merge((spans[c].start, spans[c].end) for c in span.children):
        if lo > at:
            out.append((at, min(lo, span.end)))
        at = max(at, hi)
    if span.end > at:
        out.append((at, span.end))
    return out
