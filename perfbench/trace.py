"""In-memory span tracing and the statistics the benchmark reports.

Spans are opened in the benchmark's own code around each call into an
engine layer; micro-batch spans are rebuilt from StreamingQueryProgress
events and parented under the span of the query that ran them.  Nothing
is written until ``Tracer.write`` at the end of a run.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime

import numpy as np


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # seconds, time.time() clock
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans of one workload run (one ``trace_id``).  A disabled
    tracer records nothing, so untraced runs pay only the ``with``."""

    def __init__(self, trace_id: str, enabled: bool = True):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a finished span; returns its id (-1 when disabled)."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, self.trace_id, attrs))
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the body as a child of the innermost open span of this
        thread (or of ``parent``); yields the attrs dict so the body can
        attach counts measured at the same boundary."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.time(), math.nan, parent, self.trace_id, attrs))
        stack.append(sid)
        try:
            yield attrs
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    def current(self) -> int | None:
        stack = self._stack() if self.enabled else []
        return stack[-1] if stack else None

    def named(self, name: str, since: int = 0) -> list[Span]:
        """Spans called ``name`` recorded at or after index ``since``."""
        return [s for s in self.spans[since:] if s.name == name]

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def write(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": selft[s.span_id]}) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children clipped to the parent, overlaps counted
    once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.span_id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.span_id] = s.duration - _covered(clipped)
    return out


def progress_spans(tracer: Tracer, progress: list[dict], parent_of) -> dict[int, int]:
    """Rebuild one ``streaming.micro_batch`` span per StreamingQueryProgress
    event (trigger start + triggerExecution), parented by ``parent_of``;
    returns batch id → span id."""
    out = {}
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000
        out[p["batchId"]] = tracer.add(
            "streaming.micro_batch", start, end, parent_of(p),
            batch=p["batchId"], rows=p["numInputRows"], query=p.get("name"),
        )
    return out


# ---------------------------------------------------------------- statistics


def tail_quantile(n: int) -> float:
    """The highest percentile (whole percent) with at least ten samples
    beyond it; the median when a run has fewer than twenty samples."""
    return max(0.5, math.floor(100 * (1 - 10 / n)) / 100) if n else 0.5


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile of ``tail_quantile`` and the count."""
    if not values:
        return {"p50": math.nan, "tail": math.nan, "q": math.nan, "n": 0}
    q = tail_quantile(len(values))
    return {
        "p50": float(np.percentile(values, 50)),
        "tail": float(np.percentile(values, 100 * q)),
        "q": q,
        "n": len(values),
    }


def median(values: list[float], default: float = 0.0) -> float:
    return float(np.median(values)) if len(values) else default


def emit_latencies(
    scheduled: dict[str, float],
    file_batch: dict[str, int],
    emitted_at: dict[int, float],
) -> tuple[list[float], int]:
    """Open-loop latency of each source file: from the time it was *due*
    (not when the possibly late generator wrote it) to the sink call that
    first emitted the batch holding it.  Returns (latencies in seconds for
    emitted files, number of files not emitted)."""
    out, missing = [], 0
    for path, due in scheduled.items():
        batch = file_batch.get(path)
        if batch is None or batch not in emitted_at:
            missing += 1
        else:
            out.append(emitted_at[batch] - due)
    return out, missing
