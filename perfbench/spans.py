"""Spans around calls into the engine's layers, kept in memory.

``Tracer.instrument`` replaces every public function of the named modules
with a wrapper that records a span, then rebinds every already-loaded
reference to the original inside the package. It must run before the
``queries_*`` modules are imported: they bind library functions with
``from ... import`` at import time, and a reference bound before the swap
would call the unwrapped function and leave no span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import math
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "etl_procesos_odo_spark"

# Layer modules whose public functions are wrapped (relative to PACKAGE).
LAYER_MODULES = (
    "session",
    "operators.aggregates",
    "operators.joins",
    "operators.layout",
    "operators.linkage",
    "operators.mining",
    "operators.partitioner",
    "operators.spines",
    "operators.windows",
    "functions.datetime_fns",
    "functions.text_fns",
    "llm.dedup",
    "llm.similarity",
    "streaming.temporal",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    query: str | None
    phase: str | None  # "build" or "action" while a query runs
    pass_kind: str | None
    pass_index: int | None
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack = threading.local()
        # What the client is doing right now; read by spans on any thread
        # (streaming foreachBatch callbacks run on a py4j thread).
        self.query: str | None = None
        self.phase: str | None = None
        self.pass_kind: str | None = None
        self.pass_index: int | None = None

    def _frames(self) -> list[int]:
        frames = getattr(self._stack, "frames", None)
        if frames is None:
            frames = self._stack.frames = []
        return frames

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def _open(self, name: str) -> int:
        frames = self._frames()
        span = Span(name, self.clock(), 0.0, frames[-1] if frames else -1,
                    self.query, self.phase, self.pass_kind, self.pass_index)
        self.spans.append(span)
        idx = len(self.spans) - 1
        frames.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = self.clock()
        self._frames().pop()
        if span.parent >= 0:
            self.spans[span.parent].child_s += span.duration

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def instrument(self, modules=LAYER_MODULES) -> dict[str, str]:
        """Wrap the public functions of ``modules``; return {span name:
        qualified function name}. Raises if a ``queries_*`` module is
        already loaded, because its bindings could no longer be fixed."""
        early = [m for m in sys.modules if m.startswith(f"{PACKAGE}.queries_")]
        if early:
            raise RuntimeError(f"instrument() after import of {early}")
        swapped: dict[int, object] = {}
        names: dict[str, str] = {}
        for rel in modules:
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            for attr, obj in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__
                        or inspect.isgeneratorfunction(obj)
                        or getattr(obj, "__wrapped_by_tracer__", False)):
                    continue
                span_name = f"{rel}.{attr}"
                wrapper = self.wrap(obj, span_name)
                setattr(mod, attr, wrapper)
                swapped[id(obj)] = wrapper
                names[span_name] = f"{mod.__name__}.{attr}"
        # Rebind references taken before the swap (``from .session import
        # load_table`` in a module imported earlier).
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = swapped.get(id(obj))
                if wrapper is not None and wrapper is not obj:
                    setattr(mod, attr, wrapper)
        return names

    # --- aggregates ----------------------------------------------------

    def function_self_times(self, pass_kind: str = "steady") -> dict[str, tuple[int, float]]:
        """{span name: (calls, self seconds)} of wrapped-function spans
        opened while a query's plan was being built, over the passes of
        ``pass_kind``."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if (s.pass_kind == pass_kind and s.phase == "build"
                    and not s.name.startswith("query.")):
                agg = out[s.name]
                agg[0] += 1
                agg[1] += s.self_s
        return {k: (v[0], v[1]) for k, v in out.items()}

    def query_span_s(self, pass_kind: str, pass_index: int) -> float:
        return math.fsum(
            s.duration for s in self.spans
            if s.name.startswith("query.") and s.pass_kind == pass_kind
            and s.pass_index == pass_index
        )

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "self_s": s.self_s, "query": s.query, "phase": s.phase,
             "pass": f"{s.pass_kind}:{s.pass_index}"}
            for s in self.spans
        ]

