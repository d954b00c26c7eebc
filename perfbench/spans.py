"""In-memory span recorder for the traced benchmark run.

A span is ``(name, path, start, end, parent)``.  While a span is open the
Spark job description is the span's path (``rep/run_wave/statestore.write``),
so the event-log reader can group executor metrics by the innermost layer
call that started each job.  Spans live in memory until :meth:`Tracer.dump`
writes them out at the end of the run.

The untraced run uses :data:`OFF`, whose ``span`` is a no-op context, so
the timed code path is the same in both runs apart from the recording.

:meth:`Tracer.wrap` replaces methods of an object (an instance, or a class
for objects the engine creates internally) with span-recording wrappers and
returns an undo callback; nothing under ``httpz_spark/`` is edited.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    path: str
    start: float
    end: float
    parent: str | None

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, enabled: bool = True):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        path = f"{parent}/{name}" if parent else name
        self._stack.append(path)
        self._describe(path)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self._describe(parent)
            self.spans.append(Span(name, path, t0, t1, parent))

    def _describe(self, path: str | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(path)

    def wrap(self, obj, methods: dict) -> "callable":
        """``methods`` maps a method name to its span name.  Returns a
        callback that restores the originals."""
        if not self.enabled:
            return lambda: None
        is_class = isinstance(obj, type)
        saved = []
        for meth, label in methods.items():
            # a class keeps its original descriptor for the undo; an
            # instance only gains a shadowing attribute
            saved.append((meth, obj.__dict__.get(meth) if is_class else None))
            setattr(obj, meth, self._wrapped(getattr(obj, meth), label))

        def undo():
            for meth, raw in saved:
                if is_class:
                    setattr(obj, meth, raw)
                else:
                    delattr(obj, meth)
        return undo

    def _wrapped(self, fn, label: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)
        return wrapper

    # -- queries ----------------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.secs for s in self.named(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


OFF = Tracer(enabled=False)
