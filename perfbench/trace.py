"""Span tracing from outside the engine.

A :class:`Tracer` opens a span around a call into one of the engine's
public functions: it gives the span its own Spark job group, times it,
and right after the span closes reads the Spark counters of that
group's jobs from the status store (which keeps only recent jobs).
:func:`install` replaces module attributes with traced wrappers for the
duration of a traced run, so calls the engine makes between its own
modules are spanned too. Spans stay in memory and are written out once,
at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "shuffle_bytes",
    "spill_bytes",
    "gc_s",
    "run_s",
    "input_bytes",
    "input_rows",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    own: dict = field(default_factory=dict)  # counters of this span's own job group
    child_wall: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; thread-safe (each thread keeps its own stack and
    its own Spark job group)."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, wall: float) -> None:
        """Add a span timed by the caller (e.g. one that ends before
        Spark exists)."""
        with self._lock:
            self.spans.append(Span(name, next(self._ids), None, "setup", 0.0, wall, dict.fromkeys(COUNTERS, 0)))

    def set_op(self, op: str) -> None:
        self._local.op = op

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            name=name,
            span_id=sid,
            parent=parent.span_id if parent else None,
            op=getattr(self._local, "op", "setup"),
            start=time.perf_counter(),
        )
        group = f"perfbench-{sid}"
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"perfbench-{parent.span_id}" if parent else None
            )
            sp.own = self._group_counters(group)
            if parent is not None:
                parent.child_wall += sp.wall
            with self._lock:
                self.spans.append(sp)

    def _group_counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(COUNTERS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:  # stage skipped or already evicted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["tasks"] += st.numTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
                c["gc_s"] += st.jvmGcTime() / 1000.0
                c["run_s"] += st.executorRunTime() / 1000.0
                c["input_bytes"] += st.inputBytes()
                c["input_rows"] += st.inputRecords()
        return c

    # --- aggregation ------------------------------------------------------

    def inclusive(self) -> dict[int, dict]:
        """Counters of each span plus all its descendants."""
        totals = {s.span_id: dict(s.own) for s in self.spans}
        by_id = {s.span_id: s for s in self.spans}
        for s in self.spans:
            p = s.parent
            while p is not None and p in totals:
                for k, v in s.own.items():
                    totals[p][k] += v
                p = by_id[p].parent
        return totals

    def per_op(self) -> dict[str, dict[str, dict]]:
        """``{span name: {op: counters}}`` with every counter summed over
        the spans of that name in one operation, plus ``wall_s``,
        ``self_s`` and ``cpu_util``."""
        incl = self.inclusive()
        out: dict[str, dict[str, dict]] = defaultdict(dict)
        for s in self.spans:
            c = out[s.name].setdefault(s.op, defaultdict(float))
            for k, v in incl[s.span_id].items():
                c[k] += v
            c["wall_s"] += s.wall
            c["self_s"] += s.wall - s.child_wall
        for ops in out.values():
            for c in ops.values():
                c["cpu_util"] = c["run_s"] / (c["wall_s"] * self.cores) if c["wall_s"] else 0.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec["wall_s"] = s.wall
                f.write(json.dumps(rec) + "\n")


def _materialize(df: DataFrame, how: str) -> DataFrame:
    if how == "cache":
        df = df.cache()
        df.count()
    elif how == "noop":
        df.write.format("noop").mode("overwrite").save()
    return df


def traced(tracer: Tracer, name: str, fn, materialize: str | None = None):
    """Wrap ``fn`` in a span; a DataFrame result is materialized at the
    span boundary (``cache``: persisted and counted, so later spans read
    it from memory; ``noop``: fully computed and discarded)."""

    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
            if materialize and isinstance(out, DataFrame):
                out = _materialize(out, materialize)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


def _get(owner, attr):
    return owner[attr] if isinstance(owner, dict) else getattr(owner, attr)


def _set(owner, attr, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


@contextmanager
def install(patches):
    """Temporarily replace module attributes (or dict entries) with
    wrappers. ``patches`` is a list of ``(owner, name, wrapper)``."""
    saved = [(o, a, _get(o, a)) for o, a, _ in patches]
    try:
        for o, a, w in patches:
            _set(o, a, w)
        yield
    finally:
        for o, a, orig in saved:
            _set(o, a, orig)
