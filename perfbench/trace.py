"""Spans recorded from the benchmark's own code, around calls into the
library's public functions.

The library is not instrumented.  ``Tracer.patch`` swaps a module
attribute for a timing wrapper and restores it on exit, so a call the
library makes through that module name (``app.run_app`` calls
``route_and_deliver`` this way) is recorded.  Spans stay in memory
and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start_ns: int
    end_ns: int
    parent: int | None  # index of the enclosing span in this thread
    trace: str  # spans of one unit of work share it

    @property
    def seconds(self) -> float:
        return (self.end_ns - self.start_ns) / 1e9


class Tracer:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []
        self.trace_id = ""  # set by the caller per unit of work

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter_ns(), 0, parent, self.trace_id))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end_ns = time.perf_counter_ns()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patch(self, module, attrs: dict[str, str]):
        """Replace ``module.<attr>`` with a traced wrapper named
        ``attrs[attr]`` for the duration of the block."""
        saved = {a: getattr(module, a) for a in attrs}
        try:
            for a, span_name in attrs.items():
                setattr(module, a, self.wrap(span_name, saved[a]))
            yield
        finally:
            for a, fn in saved.items():
                setattr(module, a, fn)

    def busy_s(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name and s.end_ns)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name and s.end_ns)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
