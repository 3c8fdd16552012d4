"""Spans around the public calls into each layer, for the traced run only.

:class:`Tracer` keeps every span in memory (name, start, end, parent span,
run id, plus a few attributes) and writes them out once, when the run ends.
Wrappers are installed from here over the program's public functions and
removed again afterwards, so an untraced run executes the program exactly
as shipped.

Spans nest on ONE stack shared by all threads: the streaming layer calls
``process_batch`` from py4j's callback thread while the main thread blocks
inside ``run_streaming``, and that call is the child of ``run_streaming``.
The benchmark never runs two layer calls concurrently, so one stack is
exact here.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Callable, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


def slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of y against x; 0 when x never varies."""
    if not points:
        return 0.0
    mx = sum(x for x, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True,
                 clock: Callable[[], float] = time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []
        self.enabled = enabled

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its ``attrs`` dict for results."""
        if not self.enabled:
            yield {}
            return
        with self._lock:
            s = Span(len(self.spans), name, self.clock(),
                     parent=self._stack[-1].id if self._stack else None,
                     run_id=self.run_id, attrs=dict(attrs))
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s.attrs
        finally:
            with self._lock:
                s.end = self.clock()
                self._stack.remove(s)

    def wrap(self, owner: object, attr: str, name: str,
             on_result: Optional[Callable] = None,
             meter: Optional[Callable[[], float]] = None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until :meth:`uninstall`.
        ``on_result(attrs, result, args)`` may record counts from the call,
        after the span has ended; ``meter()`` is read before and after, its
        delta kept as ``attrs["meter"]``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with tracer.span(name) as attrs:
                m0 = meter() if meter is not None else 0.0
                out = fn(*a, **k)
                if meter is not None:
                    attrs["meter"] = meter() - m0
            if on_result is not None:
                on_result(attrs, out, a)
            return out

        setattr(owner, attr, wrapper)
        self._installed.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    # -- queries --------------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": st[s.id]}) + "\n")
