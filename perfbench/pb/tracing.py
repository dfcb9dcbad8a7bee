"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, a start, an end, a parent and the id of the op it
belongs to. Spans stay in memory for the whole run and are folded
into per-layer metrics when the run ends. With tracing off every call
here is a no-op, so the untraced run pays nothing for it.

While a span is open, Spark jobs launched from the same thread carry
its id as their job description (and the op id as their job group),
which is how the event-log fold attributes jobs to spans.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start_ms: float  # epoch ms, comparable with Spark event-log times
    end_ms: float = 0.0

    @property
    def dur_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None  # open op span, for callback threads

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None):
        """Record ``name`` around the body. The parent is, in order: the
        given span, the innermost span open on this thread, the open op
        span (for engine callbacks on threads the benchmark did not
        start)."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        par = parent or (st[-1] if st else self._root)
        with self._lock:
            sp = Span(next(self._ids), name, par.id if par else None,
                      par.op if par else None, time.time() * 1000.0)
            self.spans.append(sp)
        st.append(sp)
        prev = self._tag(sp)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._untag(prev)
            st.pop()

    @contextlib.contextmanager
    def op(self, op_id: int, name: str = "op"):
        """The root span of one op; every span under it shares its id."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sp = Span(next(self._ids), name, None, op_id,
                      time.time() * 1000.0)
            self.spans.append(sp)
        st = self._stack()
        st.append(sp)
        self._root = sp
        prev = self._tag(sp)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._untag(prev)
            self._root = None
            st.pop()

    # -------------------------------------------- Spark job attribution
    def _tag(self, sp: Span):
        if self.sc is None:
            return None
        prev = (self.sc.getLocalProperty("spark.job.description"),
                self.sc.getLocalProperty("spark.jobGroup.id"))
        self.sc.setLocalProperty("spark.job.description", f"span:{sp.id}")
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"op:{sp.op}" if sp.op is not None else None)
        return prev

    def _untag(self, prev) -> None:
        if self.sc is None or prev is None:
            return
        self.sc.setLocalProperty("spark.job.description", prev[0])
        self.sc.setLocalProperty("spark.jobGroup.id", prev[1])


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of half-open intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover (children clipped to it,
    overlapping children counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cov = union_ms([(max(c.start_ms, s.start_ms), min(c.end_ms, s.end_ms))
                        for c in kids.get(s.id, ())])
        out[s.id] = s.dur_ms - cov
    return out


def progress_listener():
    """A ``StreamingQueryListener`` keeping every query progress event
    (trigger start, input rows and the ``durationMs`` phases)."""
    from datetime import datetime, timezone

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ") \
                .replace(tzinfo=timezone.utc).timestamp() * 1000.0
            self.events.append({"start_ms": ts, "rows": p.numInputRows,
                                **dict(p.durationMs)})

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Progress()
