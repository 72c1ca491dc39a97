"""Spans recorded around calls into the program's layers, and the interval
arithmetic that turns them into per-layer self times.

A span's self time is its duration minus the part of its interval that
its child spans cover. Children of one span never overlap on a single
thread, but the union is taken anyway so that the identity
``sum(self times) == root duration`` holds for any tree.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    def to_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "run_id": self.run_id,
                **({"attrs": self.attrs} if self.attrs else {})}


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``intervals``, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every closed span, keyed by span id."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        kids = [(c.start, c.end) for c in children.get(s.id, ()) if c.end is not None]
        out[s.id] = s.duration - union_length(kids, s.start, s.end)
    return out


def innermost_at(spans: list[Span], t: float) -> Span | None:
    """The deepest closed span whose interval holds instant ``t``.

    Spans are recorded in start order and nest, so the last one that
    holds ``t`` is the deepest."""
    best = None
    for s in spans:
        if s.start > t:
            break
        if s.end is not None and s.start <= t <= s.end:
            best = s
    return best
