"""Layer spans for traced benchmark runs.

The benchmark does not edit the program. For a traced run it replaces
the functions of each package module (and the methods of the classes
defined there) with wrappers that open a span whenever a call crosses
into that module's layer from another layer. Calls inside one layer
open no span, so a span marks a layer boundary. The DataFrame actions
of PySpark are wrapped the same way as the ``spark.action`` layer, so a
module's self time is the Python time it spends itself, and the time
it waits on Spark is counted under ``spark.action``.

Spans are kept in memory as ``Span`` records and summed at the end of
the run by ``layer_totals``.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

SPARK_LAYER_PREFIX = "spark."


@dataclass
class Span:
    layer: str
    start: float
    end: float
    parent: int | None = None
    jobs: int = 0            # Spark jobs submitted while the span was open


@dataclass
class _Frame:
    layer: str
    index: int
    jobs0: int


@dataclass
class Tracer:
    """Collects spans and counters for one run. ``job_count`` returns a
    monotonic count of Spark jobs submitted so far in the current
    operation; it is None when jobs are not counted (unit tests)."""

    job_count: Callable[[], int] | None = None
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[_Frame] = field(default_factory=list)

    @property
    def layer(self) -> str | None:
        return self._stack[-1].layer if self._stack else None

    def _jobs(self) -> int:
        return self.job_count() if self.job_count is not None else 0

    def enter(self, layer: str) -> None:
        parent = self._stack[-1].index if self._stack else None
        self.spans.append(Span(layer, time.perf_counter(), 0.0, parent))
        self._stack.append(_Frame(layer, len(self.spans) - 1, self._jobs()))

    def exit(self) -> None:
        frame = self._stack.pop()
        span = self.spans[frame.index]
        span.end = time.perf_counter()
        span.jobs = self._jobs() - frame.jobs0

    def span(self, layer: str):
        return _SpanContext(self, layer)

    def add(self, counter: str, value: float = 1.0) -> None:
        self.counters[counter] = self.counters.get(counter, 0.0) + value

    def reset(self) -> None:
        """Drop the spans and counters recorded so far; only between
        spans."""
        assert not self._stack, "reset inside an open span"
        self.spans.clear()
        self.counters.clear()


class _SpanContext:
    def __init__(self, tracer: Tracer, layer: str):
        self.tracer, self.layer = tracer, layer

    def __enter__(self):
        self.tracer.enter(self.layer)
        return self

    def __exit__(self, *exc):
        self.tracer.exit()
        return False


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: ``self_s`` (span time minus the time covered by child
    spans), ``calls`` (spans opened) and ``jobs`` (Spark jobs the layer
    submitted itself). Jobs submitted inside a ``spark.*`` child span
    belong to the program layer that called Spark, so only the jobs of
    program-layer children are subtracted from a span's jobs."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        kids = children.get(i, [])
        self_s = (s.end - s.start) - _covered([(k.start, k.end) for k in kids])
        jobs = 0 if s.layer.startswith(SPARK_LAYER_PREFIX) else s.jobs - sum(
            k.jobs for k in kids
            if not k.layer.startswith(SPARK_LAYER_PREFIX))
        t = out.setdefault(s.layer, {"self_s": 0.0, "calls": 0, "jobs": 0})
        t["self_s"] += self_s
        t["calls"] += 1
        t["jobs"] += jobs
    return out


def _boundary_wrapper(tracer: Tracer, fn, layer: str, after=None):
    """Open a ``layer`` span unless the caller is already in ``layer``.
    ``after(args, kwargs, result, seconds)`` runs after each call."""
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        t0 = time.perf_counter()
        if tracer.layer == layer:
            out = fn(*args, **kwargs)
        else:
            with tracer.span(layer):
                out = fn(*args, **kwargs)
        if after is not None:
            after(args, kwargs, out, time.perf_counter() - t0)
        return out
    return traced


class Instrumentation:
    """Replaces functions with span wrappers and can put them back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []
        # id(original) -> (original, wrapper)
        self._wrapped: dict[int, tuple] = {}

    def _set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, value)

    def wrap_function(self, owner, name: str, layer: str, after=None):
        fn = owner.__dict__[name]
        wrapper = _boundary_wrapper(self.tracer, fn, layer, after)
        self._wrapped[id(fn)] = (fn, wrapper)
        self._set(owner, name, wrapper)
        return wrapper

    def wrap_class(self, cls, layer: str, hooks=None) -> None:
        hooks = hooks or {}
        for name, attr in list(vars(cls).items()):
            if name.startswith("__"):
                continue
            if isinstance(attr, staticmethod):
                fn = _boundary_wrapper(self.tracer, attr.__func__, layer)
                self._set(cls, name, staticmethod(fn))
            elif isinstance(attr, classmethod):
                fn = _boundary_wrapper(self.tracer, attr.__func__, layer)
                self._set(cls, name, classmethod(fn))
            elif inspect.isfunction(attr):
                self.wrap_function(cls, name, layer, hooks.get(name))

    def wrap_module(self, module, layer: str, skip=(), hooks=None) -> None:
        """Wrap every function and class method defined in ``module``;
        ``hooks`` maps a function or method name to its ``after``
        callback."""
        hooks = hooks or {}
        for name, obj in list(vars(module).items()):
            if name in skip or getattr(obj, "__module__", None) \
                    != module.__name__:
                continue
            if inspect.isfunction(obj):
                self.wrap_function(module, name, layer, hooks.get(name))
            elif inspect.isclass(obj):
                self.wrap_class(obj, layer, hooks)

    def rebind(self, prefixes: tuple[str, ...]) -> None:
        """Point names bound by ``from m import f`` in other modules at
        the wrappers too."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefixes):
                continue
            for name, obj in list(vars(mod).items()):
                hit = self._wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._set(mod, name, hit[1])

    def restore(self) -> None:
        for owner, name, value in reversed(self._undo):
            setattr(owner, name, value)
        self._undo.clear()
        self._wrapped.clear()
