"""Outside-in tracing: spans around the program's public functions.

The traced run wraps public names at runtime, in this process only,
replacing each name where its caller looks it up (a module global or a
class attribute). No program file changes. Spans are kept in memory and
summarised when the run ends.

A span records its name, start, end (``time.time()`` seconds, the clock
Spark's event log uses) and the span that was open when it started.
Self time is the span's duration minus the part of it its child spans
cover.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
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


def clipped(intervals, start: float, end: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[start, end]``."""
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals."""
    kids = [(spans[i].start, spans[i].end) for i in span.children]
    return span.duration - union_length(clipped(kids, span.start, span.end))


class Tracer:
    """Collects spans; ``enabled`` switches recording on and off per op so
    one process can time traced and untraced ops side by side."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent, op=self.op)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, owner, attr: str, name: str, wrap=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        traced wrapper (``wrap`` builds a custom one); :meth:`restore`
        puts every original back."""
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        _set(owner, attr, (wrap or self.wrap)(name, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            _set(owner, attr, orig)
        self._patches.clear()

    def of_op(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]


PKG = "openweathermapapi_etl_spark"


def install(tracer: Tracer, queries: list[str] = ()) -> None:
    """Wrap the program's public layer boundaries.

    Each name is replaced where its caller looks it up: ``read_json`` and
    ``transform_raw`` are module globals of ``pipeline.weather`` (and
    ``transform_raw`` also of ``streaming.source``); ``keyed_upsert`` is a
    global of ``operators.merge``; table methods are class attributes;
    registry queries are entries of the ``QUERIES`` dict.
    """
    weather = importlib.import_module(f"{PKG}.pipeline.weather")
    source = importlib.import_module(f"{PKG}.streaming.source")
    merge = importlib.import_module(f"{PKG}.operators.merge")
    session = importlib.import_module(f"{PKG}.session")
    tracer.patch(session, "get_session", "session.get_session")
    tracer.patch(weather, "read_json", "sources.read_json")
    tracer.patch(weather, "transform_raw", "pipeline.transform_raw")
    tracer.patch(source, "transform_raw", "pipeline.transform_raw")
    tracer.patch(weather, "run_batch_pipeline", "pipeline.run_batch_pipeline")
    tracer.patch(merge, "keyed_upsert", "merge.keyed_upsert")
    table = merge.VersionedParquetTable
    tracer.patch(table, "upsert", "merge.upsert")
    tracer.patch(table, "overwrite", "merge.overwrite")
    tracer.patch(table, "read", "merge.read")

    def batch_builder(name, build):
        @functools.wraps(build)
        def wrapper(*args, **kwargs):
            return tracer.wrap(name, build(*args, **kwargs))

        return wrapper

    tracer.patch(
        source, "make_batch_processor", "streaming.process_batch", batch_builder
    )
    if queries:
        plans = importlib.import_module(f"{PKG}.plans")
        for q in queries:
            tracer.patch(plans.QUERIES, q, f"plans.{q}.build")


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)
