"""Spans recorded around the benchmark's calls into the program's layers.

A span has a name, start and end (epoch seconds), a parent and the run id it
belongs to. Spans are kept in memory and written out when the run ends.
Parents are assigned after the fact, by interval containment, so spans
opened on other threads (the streaming ``foreachBatch`` callback, for
example) nest correctly without passing context around.

A span's self time is its duration minus the part of it that its child
spans cover. With children properly nested and disjoint, the self times of
a tree add up to the root's duration; :meth:`Tracer.reconcile` checks that.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

_RECONCILE_TOL_S = 0.005


@dataclass
class Span:
    name: str
    start: float
    end: float
    run_id: str
    parent: int | None = None   # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time())

    def add(self, name: str, start: float, end: float, **attrs) -> Span:
        s = Span(name, start, end, self.run_id, attrs=attrs)
        with self._lock:
            self.spans.append(s)
        return s

    @contextlib.contextmanager
    def patched(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a wrapper that records a span around
        every call, for the duration of the ``with`` block."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def nest(self) -> None:
        """Set each span's parent to the shortest other span containing it
        (ties: the later-closed one, which is the outer ``with``)."""
        for i, s in enumerate(self.spans):
            best = None
            for j, p in enumerate(self.spans):
                if i == j or p.start > s.start or p.end < s.end:
                    continue
                if p.duration == s.duration and j < i:
                    continue  # identical interval recorded earlier: inner
                if best is None or p.duration < self.spans[best].duration:
                    best = j
            s.parent = best

    def children(self, i: int) -> list[int]:
        return [j for j, s in enumerate(self.spans) if s.parent == i]

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        kids = [(max(self.spans[j].start, s.start), min(self.spans[j].end, s.end))
                for j in self.children(i)]
        return s.duration - _covered(kids)

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the tree under ``root``."""
        out: dict[str, float] = {}
        stack = [root]
        while stack:
            i = stack.pop()
            name = self.spans[i].name
            out[name] = out.get(name, 0.0) + self.self_time(i)
            stack += self.children(i)
        return out

    def reconcile(self, root: int) -> float:
        """Sum of self times under ``root`` minus its duration; raises if it
        exceeds 5 ms (overlapping siblings or a child outside its
        parent would make time count twice or go missing)."""
        gap = sum(self.self_times(root).values()) - self.spans[root].duration
        if abs(gap) > _RECONCILE_TOL_S:
            raise ValueError(f"span self times miss the root's wall time by {gap:.3f} s")
        return gap

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
