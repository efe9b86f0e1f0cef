"""Span tracing of the package from outside it.

``Tracer`` keeps spans in memory: name, start, end, parent, and the Spark
jobs started while the span was open. ``install`` wraps the public calls
into each layer (catalog reads, DataFrame checkpoints, streaming drains,
the upsert sink and the transaction commit) so that no package code has
to change. A span's self time is its duration minus the durations of its
children; children of one parent never overlap because one driver thread
issues the queries and a ``foreachBatch`` callback runs only while that
thread waits in the drain that started it.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: Span | None
    jobs_at_start: int
    end: float = 0.0
    jobs: int = 0
    children: list[Span] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    """In-memory span recorder. Spans are recorded only while ``enabled``;
    drains are always timed (two clock reads) and their streaming queries
    kept, so untraced runs can still report micro-batch latency."""

    def __init__(self, job_counter=lambda: 0, clock=time.perf_counter):
        self.enabled = False
        self.spans: list[Span] = []
        self.drains: list[tuple[object, float]] = []  # (StreamingQuery, seconds)
        self._jobs = job_counter
        self._clock = clock
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            s = Span(name, self._clock(), self._stack[-1] if self._stack else None,
                     self._jobs())
            self._stack.append(s)
        try:
            yield s
        finally:
            with self._lock:
                s.end = self._clock()
                s.jobs = self._jobs() - s.jobs_at_start
                self._stack.remove(s)
                if s.parent is not None:
                    s.parent.children.append(s)
                self.spans.append(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def take(self) -> list[Span]:
        """Return and forget the spans recorded so far."""
        with self._lock:
            out, self.spans = self.spans, []
        return out

    def take_drains(self) -> list[tuple[object, float]]:
        out, self.drains = self.drains, []
        return out


def totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, total seconds, self seconds and jobs."""
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        t = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
        t["calls"] += 1
        t["s"] += s.dur
        t["self_s"] += s.self_s
        t["jobs"] += s.jobs
    return out


def _replace_everywhere(original, replacement, prefix: str, undo: list) -> None:
    """Rebind ``original`` to ``replacement`` in every loaded module under
    ``prefix``, including names bound by ``from module import name``."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == prefix or mod_name.startswith(prefix + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, original))


def _replace_attr(owner, attr: str, replacement, undo: list) -> None:
    undo.append((owner, attr, getattr(owner, attr)))
    setattr(owner, attr, replacement)


def install(tracer: Tracer) -> list:
    """Wrap the layer entry points; return an undo list for ``uninstall``."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from zoom_etl_spark import catalog
    from zoom_etl_spark.operators.txn import TableGroup
    from zoom_etl_spark.streaming.sink import UpsertSink

    undo: list = []
    for fn in (catalog.table, catalog.events_since):
        _replace_everywhere(fn, tracer.wrap("catalog.read", fn), "zoom_etl_spark", undo)
    for attr in ("localCheckpoint", "checkpoint"):
        _replace_attr(DataFrame, attr, tracer.wrap("checkpoint", getattr(DataFrame, attr)),
                      undo)
    _replace_attr(UpsertSink, "__call__", tracer.wrap("sink.upsert", UpsertSink.__call__),
                  undo)
    _replace_attr(TableGroup, "publish", tracer.wrap("txn.publish", TableGroup.publish),
                  undo)
    _replace_attr(DataStreamWriter, "start",
                  tracer.wrap("stream.start", DataStreamWriter.start), undo)

    await_termination = StreamingQuery.awaitTermination

    @functools.wraps(await_termination)
    def drain(query, *args, **kwargs):
        t0 = time.perf_counter()
        with tracer.span("stream.drain"):
            result = await_termination(query, *args, **kwargs)
        tracer.drains.append((query, time.perf_counter() - t0))
        return result

    _replace_attr(StreamingQuery, "awaitTermination", drain, undo)
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)
