"""In-memory spans for the traced run, recorded around calls into the
package's public objects.

The benchmark never edits package code: ``Tracer.wrap`` replaces a public
attribute (an engine's ``sink``/``source``/``store``/``limiter`` method, the
``apply_transforms`` name the engine module calls, a ``VersionedDatasetStore``
method) with a timing wrapper, and ``Tracer.restore`` puts every original
back. Spans are kept in a list and summarised when the run ends.

Ops run one at a time, so a span opened on a thread with no open span of
its own (an engine worker thread, a pipeline commit thread) is parented to
the current op.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.current_op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._patched: list[tuple[object, str, object, bool]] = []

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, op: bool = False, **kwargs):
        """Run ``fn`` inside a span named ``name``; returns (result, span).
        With ``op=True`` the span is the current op, the parent of spans
        opened on threads that have none of their own."""
        stack = self._stack()
        parent = stack[-1] if stack else self.current_op
        sid = self._new_id()
        if op:
            self.current_op = sid
        stack.append(sid)
        start = time.monotonic()
        try:
            result = fn(*args, **kwargs)
        finally:
            end = time.monotonic()
            stack.pop()
            if op:
                self.current_op = None
            span = Span(sid, name, start, end, parent)
            with self._lock:
                self.spans.append(span)
        return result, span

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] += value

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper. ``after(result,
        args, kwargs)`` runs once the span has closed, for counters that
        need the call's outcome (rows, bytes written)."""
        original = getattr(owner, attr)
        # a class attribute is a plain function: keep it a method
        is_class = isinstance(owner, type)
        tracer = self

        def wrapper(*args, **kwargs):
            result, _ = tracer.call(name, original, *args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        had_own = is_class or attr in getattr(owner, "__dict__", {})
        self._patched.append((owner, attr, original, had_own))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original, had_own in reversed(self._patched):
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)  # fall back to the class attribute again
        self._patched.clear()

    # -- summaries ---------------------------------------------------------

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_time(self, span: Span) -> float:
        """``span`` minus the part of it covered by its child spans, which
        may run on several threads at once (their union is subtracted)."""
        kids = [
            (max(s.start, span.start), min(s.end, span.end))
            for s in self.spans
            if s.parent == span.id
        ]
        covered = union_seconds([(lo, hi) for lo, hi in kids if hi > lo])
        return (span.end - span.start) - covered


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path`` (a file counts as itself)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
