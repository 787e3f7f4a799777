"""In-memory span recorder for the traced benchmark run.

A span is one call into a layer: name, start, end, the span that was
open when it started (its parent) and the op it belongs to. Spans are
kept in a list and written out once, when the run ends, so recording
costs a ``perf_counter`` pair and a dict per call.

A layer's self time is its span's duration minus the part of that
interval its child spans cover (overlapping children count once).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing.

    ``mark``, when given, is read at the start and end of every span
    (as ``job_lo`` / ``job_hi``), e.g. the id the next Spark job will
    get, so each span knows which jobs ran inside it."""

    def __init__(self, enabled: bool = True, mark=None) -> None:
        self.enabled = enabled
        self.mark = mark
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span around the ``with`` body; yields its record
        (or None when disabled) so the caller can attach counters."""
        if not self.enabled:
            yield None
            return
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        if self.mark is not None:
            rec["job_lo"] = self.mark()
        self._stack.append(sid)
        try:
            yield rec
        finally:
            if self.mark is not None:
                rec["job_hi"] = self.mark()
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a ``name`` span. The
        wrapper returns the wrapped call's result unchanged."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span, keyed by span id."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
