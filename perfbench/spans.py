"""Span recorder for the traced benchmark run, and the self-time report.

A span is opened by the benchmark around each call it makes into a layer
of the program (``pipeline.fit``, ``persistence.save``, ``spark.exec``,
...).  Spans nest: a span's parent is the span that was open when it
started, and every span carries the id of the workload iteration it
belongs to.  Spans stay in memory; :meth:`Tracer.dump` writes them out
once the run is over.

A span's *self time* is its duration minus the part of that interval
its children cover.  The self times of an iteration's spans partition
its wall exactly, so the per-layer numbers add up to the end-to-end one.

With tracing off, :meth:`Tracer.span` records nothing and sets no Spark
job group, so the untraced run pays for one ``if`` per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    iteration: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans.  ``on_enter(span)`` / ``on_exit(parent)`` let the
    caller tag Spark jobs with the innermost open span (see
    ``sparkstats.SparkCounters.set_group``)."""

    def __init__(self, enabled: bool, on_enter=None, on_exit=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, name: str, iteration: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        if iteration is None:
            iteration = parent.iteration if parent else ""
        s = Span(id=len(self.spans), name=name, iteration=iteration,
                 parent=parent.id if parent else None,
                 start=time.perf_counter(), cpu_start=time.process_time())
        self.spans.append(s)
        self._open.append(s)
        if self._on_enter:
            self._on_enter(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_end = time.process_time()
            self._open.pop()
            if self._on_exit:
                self._on_exit(self._open[-1] if self._open else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[int, tuple[float, float]]:
    """span id -> (self wall seconds, self driver-CPU seconds).

    Wall self time subtracts the union of the children's intervals,
    clipped to the parent's.  CPU self time subtracts the children's
    CPU, since process CPU has no intervals to intersect."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s.id, [])
        covered = _covered([(max(k.start, s.start), min(k.end, s.end))
                            for k in kids if k.end > s.start
                            and k.start < s.end])
        kid_cpu = sum(k.cpu_end - k.cpu_start for k in kids)
        out[s.id] = (s.duration - covered,
                     (s.cpu_end - s.cpu_start) - kid_cpu)
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it (spans are stored in start
    order, so a descendant always follows its ancestor)."""
    ids = {root.id}
    out = [root]
    for s in spans[root.id + 1:]:
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out
