"""Spans and Spark job counts, taken from outside the engine.

A span is recorded around a call into one of the engine's public
functions. Job, stage and task counts come from PySpark's public
``StatusTracker``, through a job group set per op and phase. Nothing in
``distgrep_spark`` is changed. ``load_table`` is wrapped where the query
modules bound it, only inside ``wrapped_load_table``: around traced ops,
and in the warm pass to note which tables each query loads.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    op: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class Tracer:
    """Spans of one run, kept in memory. ``op`` is the current op's id;
    ``sc``, when set, lets a span tag its jobs with ``op<id>:<group>``."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _groups: list[str | None] = field(default_factory=list)
    op: int = -1

    @contextmanager
    def span(self, name: str, group: str | None = None):
        s = Span(self.op, name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if group and self.sc is not None:
            self._groups.append(f"op{self.op}:{group}")
            set_group(self.sc, self._groups[-1])
        try:
            yield s
        finally:
            if group and self.sc is not None:
                self._groups.pop()
                set_group(self.sc, self._groups[-1] if self._groups else None)
            s.end = time.perf_counter()
            self._stack.pop()
            if s.parent is not None:
                self.spans[s.parent].children_s += s.end - s.start

    def of(self, name: str, ops: set[int] | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (ops is None or s.op in ops)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def set_group(sc, group: str | None) -> None:
    """Tag the following jobs of this thread with ``group`` (None clears)."""
    sc.setLocalProperty("spark.jobGroup.id", group)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks run under ``group``.

    Read right after the op: the status store keeps only the most recent
    1000 jobs and stages."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue  # skipped stage: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks + stage.numFailedTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


@contextmanager
def wrapped_load_table(on_call):
    """Replace ``load_table`` in every engine module that bound it.

    ``on_call(fn, spark, sf_dir, name, *a, **kw)`` runs in its place and
    must call ``fn``. The original binding is restored on exit.
    """
    from distgrep_spark.sources import catalog

    original = catalog.load_table

    def wrapper(spark, sf_dir, name, *a, **kw):
        return on_call(original, spark, sf_dir, name, *a, **kw)

    patched = [
        m
        for n, m in list(sys.modules.items())
        if n.startswith("distgrep_spark") and getattr(m, "load_table", None) is original
    ]
    for m in patched:
        m.load_table = wrapper
    try:
        yield
    finally:
        for m in patched:
            m.load_table = original
