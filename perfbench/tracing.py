"""In-memory spans around the calls into each layer of the Table 1 path.

A span is (name, start, end, parent, operation id), with epoch-second
times so spans line up with the Spark event log. Spans are kept in a
list and read when the run ends. :func:`instrument` wraps the three names
``core.engine`` imports from its children — ``collect_sufficient``,
``chi_square`` and ``continuous_test`` — at module-attribute level, so
the engine's own code is not edited and the wrappers come off again on
exit.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass

#: engine attribute -> layer span name
WRAPPED = {
    "collect_sufficient": "sufficient",
    "chi_square": "hypothesis",
    "continuous_test": "hypothesis",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans for the operation set by :meth:`operation`. The
    engine calls its children from the caller's thread, so a per-thread
    stack gives every span its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.time(), 0.0, stack[-1] if stack else None, self.op)
        )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    @contextlib.contextmanager
    def operation(self, op: int):
        self.op = op
        with self.span("op"):
            yield

    def self_times(self, op: int) -> dict[str, float]:
        """Per layer name: Σ (span duration − time covered by its child
        spans) over the operation's spans."""
        mine = [(i, s) for i, s in enumerate(self.spans) if s.op == op]
        child_time: dict[int, float] = {}
        for _i, s in mine:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
        out: dict[str, float] = {}
        for i, s in mine:
            own = s.end - s.start - child_time.get(i, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def totals(self, op: int) -> dict[str, tuple[int, float]]:
        """Per layer name: (calls, Σ span duration) for the operation."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            if s.op == op:
                n, t = out.get(s.name, (0, 0.0))
                out[s.name] = (n + 1, t + s.end - s.start)
        return out


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's imported children for the duration of the block."""
    from tableone_pyspark_spark.core import engine

    saved = {name: getattr(engine, name) for name in WRAPPED}

    def wrap(fn, layer):
        def traced(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return traced

    for name, layer in WRAPPED.items():
        setattr(engine, name, wrap(saved[name], layer))
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(engine, name, fn)
