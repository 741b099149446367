"""Spans recorded around calls into the engine, interval arithmetic
for self time, and timed wrappers swapped into module attributes.

Times are epoch seconds (``time.time``) so spans line up with the
millisecond timestamps of Spark's event log.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

Interval = tuple[float, float]


def union(intervals) -> list[Interval]:
    """Merge intervals into sorted, disjoint ones (empty ones dropped)."""
    out: list[list[float]] = []
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def covered(span: Interval, intervals) -> float:
    """How much of ``span`` the union of ``intervals`` covers."""
    lo, hi = span
    return length((max(a, lo), min(b, hi)) for a, b in intervals)


def self_time(span: Interval, children) -> float:
    """A span's duration minus the part its children cover."""
    return (span[1] - span[0]) - covered(span, children)


@dataclass
class Span:
    layer: str
    start: float
    end: float

    @property
    def interval(self) -> Interval:
        return (self.start, self.end)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Spans kept in memory; ``enabled`` False makes ``span`` free of
    bookkeeping, so untimed code paths stay untraced."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, t0, time.time()))

    def of_window(self, within: Interval) -> list[Span]:
        """Spans that lie inside ``within``."""
        return [s for s in self.spans if s.start >= within[0] and s.end <= within[1]]


class Patches:
    """Swap timed wrappers into module attributes and restore them.

    The wrapper replaces the attribute callers resolve at call time
    (``module.name``), so it sees every call made through the module.
    ``fired`` counts calls per wrapper name even while the recorder is
    disabled, so a run can assert that a layer it must exercise was
    reached."""

    def __init__(self, recorder: Recorder):
        self.recorder = recorder
        self.fired: dict[str, int] = {}
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, layer: str) -> None:
        original = getattr(module, attr)
        rec = self.recorder
        self.fired.setdefault(layer, 0)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            self.fired[layer] += 1
            with rec.span(layer):
                return original(*args, **kwargs)

        self._saved.append((module, attr, original))
        setattr(module, attr, timed)

    def wrap_everywhere(self, modules, original, layer: str) -> None:
        """Wrap ``original`` in every module that bound it by name."""
        for mod in modules:
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.wrap(mod, attr, layer)

    def restore(self) -> None:
        while self._saved:
            module, attr, original = self._saved.pop()
            setattr(module, attr, original)
