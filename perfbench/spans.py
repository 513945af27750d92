"""Spans the benchmark records around its own calls into each layer.

Spans live in memory; the traced run turns them into per-op layer times
after the loop. A layer's self time is its span minus the part of that
interval covered by its child spans.
"""

import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "children")

    def __init__(self, name: str, parent) -> None:
        self.name = name
        self.start = time.perf_counter()
        self.end = None
        self.parent = parent
        self.children = []

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        covered, reach = 0.0, self.start
        for c in sorted(self.children, key=lambda s: s.start):
            lo, hi = max(c.start, reach), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        return self.seconds - covered


class Tracer:
    """Span stack for one op at a time. Disabled, ``span`` only yields,
    so untraced ops run the same calls with no bookkeeping."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self._stack = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, self._stack[-1] if self._stack else None)
        if s.parent is not None:
            s.parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()


def layer_times(root: Span) -> dict:
    """{layer: (span seconds, self seconds)} summed over every span of
    the op tree, keyed by span name."""
    out = {}
    todo = [root]
    while todo:
        s = todo.pop()
        tot, own = out.get(s.name, (0.0, 0.0))
        out[s.name] = (tot + s.seconds, own + s.self_seconds)
        todo.extend(s.children)
    return out
