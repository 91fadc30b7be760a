"""Spans and counters recorded from the benchmark's own files.

The benchmark never edits the package. It records a span around each call it
makes into a layer (``get_spark``, ``optimize_layout``, the registered query
callable, ``toArrow``) and, for layers the query callables reach on their own
(``write_fls``, ``read_fls_native``, ``sql_q`` ...), it rebinds the public
function to a recording wrapper in every loaded package module for the traced
part of the run. Spans stay in memory and are written out when the run ends.

A span records a name, start, end, parent span and operation id. Self time is
a span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable

PACKAGE = "duckdb_fastlanes_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder. ``enabled`` False makes every call a no-op,
    so the same code path runs traced and untraced passes."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None,
                 op if op is not None or parent is None else parent.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child coverage."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child_time[s.id]
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Total inclusive time per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def dump(self) -> list[dict[str, Any]]:
        return [asdict(s) for s in self.spans]


def rebind(fn: Callable, wrapper: Callable) -> Callable[[], None]:
    """Point every loaded package module's reference to ``fn`` (its defining
    module and every ``from ... import fn`` binding) at ``wrapper``. Returns
    the function that restores the originals."""
    patched = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, wrapper)
                patched.append((mod, attr))

    def restore() -> None:
        for mod, attr in patched:
            setattr(mod, attr, fn)

    return restore


def traced(tracer: Tracer, name: str, fn: Callable) -> Callable:
    """``fn`` wrapped in a span called ``name``."""

    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


# ---------------------------------------------------------- Spark readouts
def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase from the DataFrame's own QueryExecution
    tracker (analysis, optimization, planning)."""
    out: dict[str, float] = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            out[phase] = opt.get().durationMs() / 1000.0
    return out


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks the status tracker recorded for
    one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
