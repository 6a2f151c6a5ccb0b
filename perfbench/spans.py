"""In-memory spans recorded around calls into the engine's layers.

A span has a name, a start, an end and the id of the span that caused
it. Spans live in memory and are written out once, when the run ends.
A span's self time is its duration minus the part of it its children
cover, so nested layers are not counted twice.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from stats import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.monotonic(), float("nan"), parent, attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.monotonic()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span measured elsewhere (e.g. a streaming micro-batch)."""
        sp = Span(len(self.spans), name, start, end, parent, attrs)
        self.spans.append(sp)
        return sp

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: int) -> list[Span]:
        """Every span below ``span_id`` (children are recorded after
        their parent, so one forward scan finds them all)."""
        below, out = {span_id}, []
        for s in self.spans[span_id + 1:]:
            if s.parent in below:
                below.add(s.id)
                out.append(s)
        return out

    def self_time(self, sp: Span) -> float:
        return self_time(sp, self.children(sp.id))

    def overlapping(self, name: str, start: float, end: float) -> Span | None:
        """The span called ``name`` that overlaps [start, end] the most
        (times measured by another clock are only close, not exact)."""
        best, most = None, 0.0
        for s in self.spans:
            if s.name == name:
                cover = min(s.end, end) - max(s.start, start)
                if cover > most:
                    best, most = s, cover
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals,
    each clipped to the span."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - union_length(clipped)
