"""In-memory spans recorded around the benchmark's calls into the engine.

A span has a name, a start and end (``time.monotonic``), the span that
was open when it started (its parent, per thread), and an operation id
shared by every span of one query or micro-batch. Spans stay in memory
and are written out when the run ends.

With tracing off, :class:`Tracer` records nothing and wraps nothing:
``span`` is a no-op context manager, so the untraced run times the
engine with no benchmark code inside the timed calls.

Layers are measured from outside: :meth:`Tracer.wrap_function` swaps a
public function of the engine for a wrapper that opens a span, in every
module of the package that imported it by name, and
:meth:`Tracer.restore` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # job group -> span id, for attributing Spark jobs to spans
        self.job_groups: dict[str, int] = {}
        self._spark_context = None

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def inside(self, name: str) -> bool:
        return any(s.name == name for s in self._stack())

    def use_job_groups(self, spark_context) -> None:
        """Tag every Spark job with the innermost open span, so the event
        log can be attributed to spans afterwards."""
        self._spark_context = spark_context

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            sid=next(self._ids),
            name=name,
            op=op or (parent.op if parent else ""),
            parent=parent.sid if parent else None,
            start=time.monotonic(),
        )
        stack.append(s)
        group = f"perfbench-{s.sid}"
        sc = self._spark_context
        if sc is not None:
            with self._lock:
                self.job_groups[group] = s.sid
            sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            stack.pop()
            if sc is not None:
                if stack:
                    sc.setJobGroup(f"perfbench-{stack[-1].sid}", stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    # --------------------------------------------------------- wrapping

    def wrap_function(self, module, attr: str, span_name: str, package: str) -> None:
        """Record ``span_name`` around every call of ``module.attr``,
        including calls through names other modules of ``package``
        imported with ``from module import attr``."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if mod is module or name.startswith(package):
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, original))

    def wrap_method(self, cls, attr: str, span_name: str, within: str, count=None) -> None:
        """Record ``span_name`` around ``cls.attr`` calls made while a
        span named ``within`` is open on the calling thread; ``count``
        maps the call's result to a row count added to the span."""
        if not self.enabled:
            return
        original = getattr(cls, attr)

        @functools.wraps(original)
        def traced(obj, *args, **kwargs):
            if not self.inside(within):
                return original(obj, *args, **kwargs)
            with self.span(span_name) as s:
                result = original(obj, *args, **kwargs)
                if count is not None:
                    s.attrs["rows"] = count(result)
                return result

        setattr(cls, attr, traced)
        self._patched.append((cls, attr, original))

    def restore(self) -> None:
        for obj, attr, original in reversed(self._patched):
            setattr(obj, attr, original)
        self._patched.clear()

    # ---------------------------------------------------------- summary

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover.
        Children of one span run on the parent's thread and nest, so
        their durations do not overlap and can be summed."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
        return {s.sid: s.duration - child_time.get(s.sid, 0.0) for s in self.spans}

    def to_records(self, t0: float) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "id": s.sid,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(selfs[s.sid], 6),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
