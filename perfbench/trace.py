"""In-process tracing for the benchmark's ``--trace 1`` mode.

``install()`` wraps the public functions of ``storage.Catalog``,
``pipeline.Pipeline``, ``semcache.SemanticCache``, ``plans.dag`` and
``session.run_concurrent`` (plus the streaming IVM sink) in this process
only; the engine's files are untouched. Every call made while the tracer
is enabled becomes a span with name, start, end, parent and request id.
The benchmark adds its own spans for the plan and exec calls of each
registry query. ``self_times()`` turns spans into per-name self time (span
time minus the time of its child spans).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    req: int


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._installed = False

    # -- request context ---------------------------------------------------
    def set_request(self, req: int) -> None:
        self._local.req = req
        self._local.stack = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, getattr(self._local, "req", -1)))
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    # -- wrapping ----------------------------------------------------------
    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        traced.__perfbench_wrapped__ = fn
        return traced

    def install(self) -> None:
        """Wrap the traced layers once per process (idempotent)."""
        if self._installed:
            return
        self._installed = True
        from eclipse_spark import pipeline, semcache, session, storage
        from eclipse_spark.plans import dag
        from eclipse_spark.streaming import windows

        self._wrap_class(storage.Catalog, "storage.")
        self._wrap_class(pipeline.Pipeline, "pipeline.")
        self._wrap_class(semcache.SemanticCache, "semcache.")
        self._wrap_class(dag.PlanNode, "plans.dag.")
        self._wrap_function(dag, "fingerprint_fn", "plans.dag.fingerprint_fn")
        self._wrap_function(session, "run_concurrent", "session.run_concurrent")
        self._wrap_function(windows, "ivm_stream_to_catalog", "streaming.ivm_stream_to_catalog")

    def _wrap_class(self, cls, prefix: str) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            if isinstance(raw, classmethod):
                setattr(cls, attr, classmethod(self.wrap(raw.__func__, prefix + attr)))
            elif isinstance(raw, staticmethod):
                setattr(cls, attr, staticmethod(self.wrap(raw.__func__, prefix + attr)))
            elif inspect.isfunction(raw):
                setattr(cls, attr, self.wrap(raw, prefix + attr))

    def _wrap_function(self, module, attr: str, name: str) -> None:
        """Replace a module-level function everywhere it was imported by
        name, so callers holding their own binding are traced too."""
        orig = getattr(module, attr)
        traced = self.wrap(orig, name)
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if d is not None and d.get(attr) is orig:
                setattr(mod, attr, traced)

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> tuple[dict[str, float], dict[str, int], dict[str, float]]:
        """Per span name: total self seconds, call count and total
        inclusive seconds over all recorded spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0 and s.end:
                child[s.parent] += s.end - s.start
        tot: dict[str, float] = defaultdict(float)
        cnt: dict[str, int] = defaultdict(int)
        incl: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if not s.end:
                continue
            tot[s.name] += (s.end - s.start) - child[i]
            incl[s.name] += s.end - s.start
            cnt[s.name] += 1
        return tot, cnt, incl

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "req": s.req}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, -1
        self.t0 = self.t1 = 0.0

    def __enter__(self):
        self.t0 = time.perf_counter()
        if self.tracer.enabled:
            self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.t1 = time.perf_counter()
        if self.idx >= 0:
            self.tracer._close(self.idx)
        return False

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


TRACER = Tracer()


def layer_of(name: str) -> str:
    """Layer of a span name: ``plans.dag.x`` -> ``plans``; the benchmark's
    own ``query.<family>.plan`` spans count as ``apps`` or ``operators``."""
    head = name.split(".", 1)[0]
    if head == "query":
        fam = name.split(".")[1]
        return "apps" if fam == "apps" else "operators"
    return head
