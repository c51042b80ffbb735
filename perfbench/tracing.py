"""In-memory spans recorded around calls into the engine's modules.

The benchmark records spans only from its own files: it times calls it
makes itself and, in traced runs, wraps public module functions from
outside (``instrument``). Nothing inside the package changes. With
tracing off every call is a no-op context manager.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent[1]
        sid = next(self._ids)
        stack.append((sid, op))
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1,
                                       parent[0] if parent else None, op))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover
        (children share the parent's thread, so they never overlap)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (
                s.end - s.start - child.get(s.span_id, 0.0))
        return out

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def instrument(tracer: Tracer, module, layer: str) -> None:
    """Wrap every public function defined in ``module`` in a span named
    ``<layer>.<function>``, and rebind the names other loaded package
    modules imported from it, so calls through either name are timed."""
    pkg = module.__name__.split(".")[0]
    originals = {}
    for name, fn in list(vars(module).items()):
        if (name.startswith("_") or not callable(fn) or isinstance(fn, type)
                or getattr(fn, "__module__", None) != module.__name__):
            continue
        originals[id(fn)] = tracer.wrap(f"{layer}.{name}", fn)
        setattr(module, name, originals[id(fn)])
    for mod in list(sys.modules.values()):
        if mod is None or not mod.__name__.startswith(pkg) or mod is module:
            continue
        for name, obj in list(vars(mod).items()):
            if id(obj) in originals and callable(obj):
                setattr(mod, name, originals[id(obj)])
