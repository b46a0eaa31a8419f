"""Outside-in tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: public functions of
the package are wrapped where they are defined and at every
``from ... import`` alias the package's modules hold, so a call from
inside the package is traced too. Spans stay in memory until the run
ends. Nothing here is installed in the untraced run.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "financial_data_pipeline_spark"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0  # Spark jobs started between entry and exit
    attrs: dict = field(default_factory=dict)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, [])) for s in spans
    }


class Tracer:
    """Records spans around wrapped functions and counts py4j calls.

    ``jobs`` is a callable returning Spark's running job counter, read
    at span entry and exit; the tracer's own py4j calls are not counted.
    ``on_result`` sees every value a wrapped function returns. While
    ``enabled`` is false, wrapped functions and py4j calls pass
    straight through.
    """

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.jobs = None
        self.on_result = None
        self.enabled = True
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self._muted = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        if self.jobs is not None:
            s.jobs = -self.own(self.jobs)
        s.start = self.clock()
        return s

    def close(self, s: Span) -> None:
        s.end = self.clock()
        if self.jobs is not None:
            s.jobs += self.own(self.jobs)
        self._stack.pop()

    def own(self, fn, *args):
        """Call ``fn`` without counting its py4j calls."""
        self._muted += 1
        try:
            return fn(*args)
        finally:
            self._muted -= 1

    def wrap(self, fn, name: str, after=None):
        """``fn`` inside a span ``name``. ``after(span, args, kwargs,
        result)`` runs before the span closes, to attach counts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            s = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    self.own(after, s, args, kwargs, out)
                if self.on_result is not None:
                    self.on_result(out)
                return out
            finally:
                self.close(s)

        return traced

    # -- installation ----------------------------------------------------
    def install(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` (a module or class) with a traced twin,
        and every alias of the same function in the package's loaded
        modules."""
        orig = getattr(owner, attr)
        traced = self.wrap(orig, name, after)
        self._set(owner, attr, traced)
        if isinstance(owner, type):
            return  # methods are looked up on the class
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._set(mod, k, traced)

    def count_py4j(self, client) -> None:
        """Count calls and time at the py4j client's ``send_command``."""
        orig = client.send_command

        def send_command(*args, **kwargs):
            if self._muted or not self.enabled:
                return orig(*args, **kwargs)
            t0 = self.clock()
            try:
                return orig(*args, **kwargs)
            finally:
                self.py4j_s += self.clock() - t0
                self.py4j_calls += 1

        self._set(client, "send_command", send_command)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
