"""Spans around the calls into each layer of the engine, from outside it.

The traced run patches the public functions of the layer modules with
wrappers that record a span per call: name, layer, start, end, parent
and op id. Spans stay in memory and are written out when the run ends.
The engine itself is not modified.

Module attributes are replaced in the defining module and in every
loaded module of the package that bound the same function object by a
``from ... import`` (``queries.py`` binds ``load_table`` at import time),
so calls are seen whichever name they go through. Operators imported
lazily inside a query read the patched module attribute at call time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time

PKG = "loan_etl_data_pipeline_spark"

# layer -> modules whose public functions are wrapped; each layer is a
# module (or module group) of the package
LAYER_MODULES = {
    "sources": ("sources.csv", "sources.tables", "sources.landing"),
    "cleaning": ("operators.cleaning",),
    "profile": ("operators.profile",),
    "etl": ("plans.etl",),
    "streaming": ("streaming.ingest",),
    "graph": ("operators.graph", "plans.iterative"),
    "dedup": ("operators.dedup",),
    "similarity": ("operators.similarity",),
    "text": ("operators.text",),
    "functions": (
        "functions.bloom",
        "functions.deterministic",
        "functions.localframe",
        "functions.ranking",
        "functions.sketches",
        "functions.splits",
        "functions.sqlfuncs",
    ),
}
# spans the benchmark opens itself around each query op
OP_LAYERS = ("registry", "exec")
LAYERS = OP_LAYERS + tuple(LAYER_MODULES)


class Tracer:
    """Span recorder. Wrappers call straight through while ``active`` is
    false, so untraced and traced passes can share one process."""

    def __init__(self) -> None:
        self.active = False
        self.op: str | None = None
        # [name, layer, start, end, parent index, op id], epoch seconds
        # so job submission times from the JVM fall on the same clock
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, layer: str) -> tuple[list, list[int]]:
        stack = self._stack()
        rec = [name, layer, time.time(), None, stack[-1] if stack else None, self.op]
        with self._lock:
            self.spans.append(rec)
            stack.append(len(self.spans) - 1)
        return rec, stack

    def span(self, name: str, layer: str) -> "_Span":
        return _Span(self, name, layer)

    def wrap(self, layer: str, fn):
        name = f"{fn.__module__.removeprefix(PKG + '.')}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            rec, stack = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[3] = time.time()
                stack.pop()

        return traced

    def install(self) -> int:
        """Wrap every public function of the layer modules; returns the
        number of functions wrapped."""
        originals: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for short in mods:
                mod = importlib.import_module(f"{PKG}.{short}")
                for attr, fn in list(vars(mod).items()):
                    if (
                        attr.startswith("_")
                        or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__
                    ):
                        continue
                    originals[id(fn)] = self.wrap(layer, fn)
        # rebind every alias the package's modules hold to a wrapped function
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None and inspect.isfunction(val):
                    setattr(mod, attr, wrapper)
        return len(originals)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer
        self.rec = None

    def __enter__(self):
        if self.tracer.active:
            self.rec, self.stack = self.tracer._open(self.name, self.layer)
        return self

    def __exit__(self, *exc) -> None:
        if self.rec is not None:
            self.rec[3] = time.time()
            self.stack.pop()


def layer_totals(spans: list[list], jobs: dict[str, list[float]]) -> dict:
    """Per-layer self time, job count, entry calls and span count over
    the ops named in ``jobs``.

    ``jobs`` maps op id -> job submission times (epoch seconds). A job is
    charged to the innermost span of its op that was open when it was
    submitted; self time is a span's duration minus its children's.
    """
    child_time = [0.0] * len(spans)
    for s in spans:
        if s[4] is not None and s[3] is not None:
            child_time[s[4]] += s[3] - s[2]
    out = {layer: {"self_s": 0.0, "jobs": 0, "calls": 0, "spans": 0} for layer in LAYERS}
    by_op: dict[str, list[int]] = {op: [] for op in jobs}
    for i, s in enumerate(spans):
        if s[3] is None or s[5] not in by_op:
            continue
        t = out[s[1]]
        t["self_s"] += (s[3] - s[2]) - child_time[i]
        t["spans"] += 1
        parent = spans[s[4]] if s[4] is not None else None
        if parent is None or parent[1] != s[1]:
            t["calls"] += 1
        by_op[s[5]].append(i)
    for op, times in jobs.items():
        for t_sub in times:
            best = None
            for i in by_op[op]:
                s = spans[i]
                # ms resolution on the JVM side: allow the boundary ms
                if s[2] - 0.001 <= t_sub <= s[3] + 0.001 and (best is None or s[2] > spans[best][2]):
                    best = i
            if best is not None:
                out[spans[best][1]]["jobs"] += 1
    return out
