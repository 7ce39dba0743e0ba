"""Engine phase tracer: which step of an engine call cost what.

Every engine call is a fixed pipeline of steps (``get_feature``:
missing ranges -> compute -> write -> read, the write being a cold
write or a merge made of segment write -> footer stats -> commit;
``key_join_features``: feature reads -> interlace -> filter/cache ->
delta count). The engine marks each step with :func:`phase`; a caller
that wants the figures opens a :func:`collect` scope::

    from diseasystore_spark import trace

    with trace.collect() as records:
        ds.get_feature("n_x", start, end).count()
    for r in records:
        print(r.path, r.wall_s, r.jobs, r.total("tasks"), r.info)

Outside a scope a phase costs one context-variable lookup and makes no
Spark or Py4J call. Inside one, a phase sets the thread's Spark job
group and description to its path (so phase names show in the Spark
UI), restores the caller's on exit, and records its wall time, its job
ids, and per-stage figures read from the status tracker and status
store (tasks, executor run and CPU time, shuffle bytes and rows, input
rows); a phase's jobs include its children's. Each record is logged as
one line to the ``diseasystore_spark`` logger at DEBUG.

Jobs are found by job group, which Spark keeps per thread, so phases on
concurrent threads of one scope count only their own jobs. A new thread
starts outside every scope: run its work under :func:`carry` to record
it as part of the phase that submitted it. Automatic strategy choices
are attached to the innermost open phase with :func:`note`.
"""

from __future__ import annotations

import contextlib
import contextvars
import logging
import threading
import time
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError

log = logging.getLogger("diseasystore_spark")

_GROUP, _DESCRIPTION = "spark.jobGroup.id", "spark.job.description"
#: status-store stage field -> (record figure, units per second)
_STAGE_FIELDS = {
    "numCompleteTasks": ("tasks", None),
    "executorRunTime": ("executor_run_s", 1e3),
    "executorCpuTime": ("executor_cpu_s", 1e9),
    "shuffleReadBytes": ("shuffle_read_bytes", None),
    "shuffleWriteBytes": ("shuffle_write_bytes", None),
    "shuffleReadRecords": ("shuffle_read_rows", None),
    "inputRecords": ("input_rows", None),
}
_SUMMED = ("tasks", "shuffle_read_bytes", "shuffle_write_bytes")


@dataclass
class Record:
    """One phase as it ran: ``path`` is its name under its parents'
    (``"store.get_feature/store.write"``), ``stages`` maps each stage
    that ran tasks to its figures."""

    path: str
    info: dict[str, Any]
    wall_s: float = 0.0
    job_ids: set[int] = field(default_factory=set)
    stages: dict[int, dict[str, float]] = field(default_factory=dict)

    @property
    def name(self) -> str:
        return self.path.rpartition("/")[2]

    @property
    def parent(self) -> str | None:
        return self.path.rpartition("/")[0] or None

    @property
    def jobs(self) -> int:
        return len(self.job_ids)

    def total(self, figure: str) -> float:
        return sum(s[figure] for s in self.stages.values())

    def summary(self) -> dict[str, Any]:
        return {
            "path": self.path,
            "wall_s": round(self.wall_s, 4),
            "jobs": self.jobs,
            "stages": len(self.stages),
            **{f: self.total(f) for f in _SUMMED},
            "executor_run_s": round(self.total("executor_run_s"), 3),
            **self.info,
        }


@dataclass
class _Open:
    records: list[Record]
    lock: threading.Lock
    record: Record | None = None  # None: no phase open yet
    group: str | None = None


_state: contextvars.ContextVar[_Open | None] = contextvars.ContextVar(
    "diseasystore_trace", default=None
)


@contextlib.contextmanager
def collect() -> Iterator[list[Record]]:
    """Record every phase entered in this context until exit; yields
    the list the records go to, in the order the phases started."""
    records: list[Record] = []
    token = _state.set(_Open(records, threading.Lock()))
    try:
        yield records
    finally:
        _state.reset(token)


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def _swap_group(sc, group: str | None, description: str | None):
    """Set the thread's job group and description; return the old."""
    old = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESCRIPTION))
    sc.setLocalProperty(_GROUP, group)
    sc.setLocalProperty(_DESCRIPTION, description)
    return old


def _stage(store, sid: int) -> dict[str, float] | None:
    try:
        sd = store.lastStageAttempt(sid)
        figures = {
            name: getattr(sd, attr)() / per_s if per_s else getattr(sd, attr)()
            for attr, (name, per_s) in _STAGE_FIELDS.items()
        }
    except Py4JJavaError:  # evicted from the store
        return None
    return figures if figures["tasks"] else None  # skipped stages ran nothing


def _settle(sc, rec: Record, group: str) -> None:
    """Add the jobs of ``group`` and the stages they ran to ``rec``."""
    jsc = sc._jsc.sc()
    try:
        # job and stage events reach the status store asynchronously
        jsc.listenerBus().waitUntilEmpty(10_000)
    except Py4JJavaError:  # still busy after 10 s: record what arrived
        pass
    tracker, store = sc.statusTracker(), jsc.statusStore()
    for jid in set(tracker.getJobIdsForGroup(group)) - rec.job_ids:
        rec.job_ids.add(jid)
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            if sid not in rec.stages and (figures := _stage(store, sid)):
                rec.stages[sid] = figures


@contextlib.contextmanager
def phase(name: str, **info: Any) -> Iterator[None]:
    """Mark one engine step; recorded only inside a :func:`collect`
    scope. ``info`` holds plain Python values the caller has at hand."""
    state = _state.get()
    if state is None:
        yield
        return
    parent = state.record
    rec = Record(f"{parent.path}/{name}" if parent else name, info)
    with state.lock:
        state.records.append(rec)
    sc = _spark_context()
    group = f"diseasystore:{rec.path}:{uuid.uuid4().hex[:12]}"
    old = _swap_group(sc, group, rec.path) if sc else None
    token = _state.set(_Open(state.records, state.lock, rec, group))
    t0 = time.perf_counter()
    try:
        yield
    finally:
        rec.wall_s = time.perf_counter() - t0
        _state.reset(token)
        if sc:
            _swap_group(sc, *old)
            _settle(sc, rec, group)
        if parent is not None:
            with state.lock:
                parent.job_ids |= rec.job_ids
                parent.stages.update(rec.stages)
        log.debug("phase %s", rec.summary())


def note(**info: Any) -> None:
    """Attach ``info`` (an automatic choice and the statistic that made
    it) to the innermost open phase; nothing outside one."""
    state = _state.get()
    if state is not None and state.record is not None:
        state.record.info.update(info)


def carry(fn: Callable) -> Callable:
    """Wrap ``fn`` to run, on any thread, inside the scope and phase
    open where ``carry`` was called: its phases nest under that phase,
    and jobs it runs outside a phase count in that phase's group."""
    ctx = contextvars.copy_context()
    state = ctx.get(_state)
    if state is None:
        return fn

    def run(*args: Any, **kwargs: Any) -> Any:
        sc = _spark_context() if state.record is not None else None
        old = _swap_group(sc, state.group, state.record.path) if sc else None
        try:
            return ctx.copy().run(fn, *args, **kwargs)
        finally:
            if sc:
                _swap_group(sc, *old)

    return run
