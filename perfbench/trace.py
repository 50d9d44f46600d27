"""Spans, per-layer self time, and the streaming progress listener.

Spans are kept in memory and written out once, when the run ends.  A span
has a name, start and end (epoch seconds), the id of the span that caused
it, and the micro-batch it belongs to.  A layer's self time is its span's
duration minus the durations of its child spans.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    batch: int | None = None


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._ids = itertools.count(1)

    def current(self) -> int | None:
        stack = getattr(self._stack, "ids", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        """Time the enclosed block as a child of this thread's open span."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self.current()
        stack = self._stack.__dict__.setdefault("ids", [])
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.add(name, start, time.time(), parent=parent, batch=batch, sid=sid)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            batch: int | None = None, sid: int | None = None) -> int:
        """Record a span whose times were measured elsewhere."""
        if sid is None:
            sid = next(self._ids)
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, batch))
        return sid

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self milliseconds."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + (s.end - s.start) * 1000
        table: dict[str, dict] = {}
        for s in self.spans:
            dur = (s.end - s.start) * 1000
            row = table.setdefault(s.name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["count"] += 1
            row["total_ms"] += dur
            row["self_ms"] += max(dur - child_ms.get(s.id, 0.0), 0.0)
        return table

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in sorted(self.spans, key=lambda s: s.start)], fh)


def progress_time(timestamp: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC trigger timestamp."""
    return datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress (``durationMs`` split, input
    rows, trigger start) and counts terminated queries, so a caller can wait
    until the asynchronous listener bus has delivered a query's events."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._terminated = 0
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cond:
            self.batches.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "start": progress_time(p.timestamp),
                    "durations": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._terminated += 1
            self._cond.notify_all()

    @property
    def terminated(self) -> int:
        with self._cond:
            return self._terminated

    def wait_terminated(self, n: int, timeout: float = 60.0) -> None:
        with self._cond:
            if not self._cond.wait_for(lambda: self._terminated >= n, timeout):
                raise TimeoutError(f"listener saw {self._terminated} of {n} query terminations")
