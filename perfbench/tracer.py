"""Outside-in tracer for the benchmark's traced run.

Nothing in the package is instrumented. In a traced run the benchmark
replaces the public entry points of each layer with wrappers at run
time (``Tracer.wrap``), and opens its own spans around each operation
(``Tracer.span``). A span records its name, start, end, parent span
and the range of Spark job ids launched while it was open. Spans stay
in memory; ``summarize`` turns them into per-layer metrics once, when
the run ends, reading stage, task, shuffle and executor-time figures
for each job range from Spark's status tracker and status store.
"""

from __future__ import annotations

import functools
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    info: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        s.duration - covered(children[i], s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    def __init__(self, next_job_id: Callable[[], int]):
        self.spans: list[Span] = []
        self._next_job_id = next_job_id
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **info) -> Iterator[Span]:
        stack = self._stack()
        s = Span(
            name,
            stack[-1] if stack else None,
            time.perf_counter(),
            self._next_job_id(),
            info=info,
        )
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            stack.pop()
            s.job_hi = self._next_job_id()
            s.end = time.perf_counter()

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str,
        before: Callable | None = None,
        after: Callable | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span
        ``name`` around each call. ``before(args, kwargs)`` returns a
        state object; ``after(span, state, args, kwargs, result)``
        records counts on the span, inside it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                state = before(args, kwargs) if before else None
                result = orig(*args, **kwargs)
                if after:
                    after(s, state, args, kwargs, result)
                return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


class JobStats:
    """Stage/task/shuffle/executor figures for a range of Spark job ids,
    read from the status tracker and the status store (ui disabled is
    fine: the store is always kept)."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._stage_cache: dict[int, tuple[int, int, float]] = {}

    def _stage(self, sid: int) -> tuple[int, int, float]:
        if sid not in self._stage_cache:
            try:
                sd = self._store.lastStageAttempt(sid)
                tasks = int(sd.numCompleteTasks())
                shuffle = int(sd.shuffleWriteBytes())
                run_s = int(sd.executorRunTime()) / 1e3
            except Exception:  # stage evicted from the store
                tasks, shuffle, run_s = 0, 0, 0.0
            self._stage_cache[sid] = (tasks, shuffle, run_s)
        return self._stage_cache[sid]

    @functools.lru_cache(maxsize=None)  # noqa: B019 - one instance per run
    def of_range(self, lo: int, hi: int) -> dict[str, float]:
        stage_ids: set[int] = set()
        for jid in range(lo, hi):
            ji = self._tracker.getJobInfo(jid)
            if ji is not None:
                stage_ids.update(ji.stageIds)
        out = {"jobs": hi - lo, "stages": 0, "tasks": 0,
               "shuffle_bytes": 0, "executor_run_s": 0.0}
        for sid in stage_ids:
            tasks, shuffle, run_s = self._stage(sid)
            if tasks:  # skipped stages ran nothing
                out["stages"] += 1
                out["tasks"] += tasks
                out["shuffle_bytes"] += shuffle
                out["executor_run_s"] += run_s
        return out


def tree_listing(root: str) -> tuple[set[str], set[str], int]:
    """Files, directories and total file bytes under ``root``."""
    files, dirs, size = set(), set(), 0
    for d, subdirs, names in os.walk(root):
        dirs.update(os.path.join(d, s) for s in subdirs)
        for n in names:
            p = os.path.join(d, n)
            files.add(p)
            try:
                size += os.path.getsize(p)
            except OSError:
                pass
    return files, dirs, size


def install_layer_wraps(tracer: Tracer) -> None:
    """Wrap the public entry points of each engine layer."""
    from diseasystore_spark.plans import store as plans_store
    from diseasystore_spark.storage import backends
    from diseasystore_spark.storage.scd2 import ParquetFeatureStore

    ds_cls = plans_store.Diseasystore
    for attr in ("get_feature", "key_join_features", "determine_missing_ranges",
                 "release_cached_plans"):
        tracer.wrap(ds_cls, attr, f"store.{attr}")

    def store_before(args, kwargs):
        return tree_listing(args[0].root)

    def store_after(span, state, args, kwargs, result):
        files, dirs, size = tree_listing(args[0].root)
        span.info["files_written"] = len(files - state[0])
        span.info["dirs_created"] = len(dirs - state[1])
        span.info["bytes_written"] = max(0, size - state[2])

    tracer.wrap(ParquetFeatureStore, "update_snapshot", "scd2.update_snapshot",
                before=store_before, after=store_after)

    def scan_after(span, state, args, kwargs, result):
        store, table_id = args[0], args[1]
        span.info["files_scanned"] = len(result.inputFiles())
        version = store._current_version(table_id)
        live = store._version_files(table_id, version) if version is not None else []
        span.info["live_files"] = len(live or [])

    tracer.wrap(ParquetFeatureStore, "get_table", "scd2.get_table",
                after=scan_after)
    for attr, name in (("append_log", "append_log"),
                       ("read_logs_pandas", "read_logs"),
                       ("table_stats", "table_stats"), ("lock", "lock"),
                       ("unlock", "unlock"), ("drop_table", "drop")):
        tracer.wrap(ParquetFeatureStore, attr, f"scd2.{name}")

    def commit_after(span, state, args, kwargs, result):
        span.info["conflict"] = result is False

    for cls in (backends.LocalCommitBackend, backends.MemoryCommitBackend):
        for attr in ("put_if_absent", "get", "put", "list", "delete"):
            tracer.wrap(cls, attr, f"commit.{attr}",
                        after=commit_after if attr == "put_if_absent" else None)

    def interlace_after(span, state, args, kwargs, result):
        width = kwargs.get("bucket_days")
        span.info["bucket_days"] = width if isinstance(width, int) else 0

    tracer.wrap(plans_store, "truncate_interlace", "interlace",
                after=interlace_after)
    tracer.wrap(plans_store, "delta_count_prevalence", "delta_count")


OP_TYPES = ("cold", "hit", "update", "time_travel", "query")
SPARK_FIELDS = ("jobs", "stages", "tasks", "shuffle_bytes", "executor_run_s")


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def summarize(spans: list[Span], job_stats: Callable[[int, int], dict],
              registry_names: list[str]) -> dict[str, float]:
    """Per-layer metrics. Durations are medians per call; counts are
    means per call (or per update for the commit counters). A layer a
    workload never reaches reads 0."""
    selfs = self_times(spans)
    by_name: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        by_name[s.name].append(i)

    def durs(name):
        return [spans[i].duration for i in by_name[name]]

    def info(name, key):
        return [spans[i].info.get(key, 0) for i in by_name[name]]

    def jobs_of(name, key):
        return [job_stats(spans[i].job_lo, spans[i].job_hi)[key]
                for i in by_name[name]]

    m: dict[str, float] = {}
    m["store.get_feature.self_s"] = _median([selfs[i] for i in by_name["store.get_feature"]])
    m["store.missing_ranges_s"] = _median(durs("store.determine_missing_ranges"))
    m["store.release_cached_s"] = _median(durs("store.release_cached_plans"))
    kj_plan, kj_sink = [], []
    for i in by_name["store.key_join_features"]:
        top = _top(spans, i)
        kj_plan.append(spans[i].duration)
        if top != i:  # the op that sank the lazy frame it returned
            kj_sink.append(spans[top].end - spans[i].end)
    m["store.key_join.plan_s"] = _median(kj_plan)
    m["store.key_join.sink_s"] = _median(kj_sink)
    m["store.persistent_rdds_after"] = _mean(
        [s.info.get("persistent_rdds", 0) for s in spans if s.name.startswith("op.")]
    )

    m["scd2.update_snapshot_s"] = _median(durs("scd2.update_snapshot"))
    m["scd2.update_snapshot.jobs"] = _mean(jobs_of("scd2.update_snapshot", "jobs"))
    m["scd2.update_snapshot.tasks"] = _mean(jobs_of("scd2.update_snapshot", "tasks"))
    for key in ("files_written", "dirs_created", "bytes_written"):
        m[f"scd2.{key}"] = _mean(info("scd2.update_snapshot", key))
    m["scd2.get_table_s"] = _median(durs("scd2.get_table"))
    scanned = info("scd2.get_table", "files_scanned")
    live = info("scd2.get_table", "live_files")
    m["scd2.files_scanned"] = _mean(scanned)
    m["scd2.scan_ratio"] = _mean([a / b for a, b in zip(scanned, live) if b])
    for name in ("read_logs", "append_log", "table_stats", "drop"):
        m[f"scd2.{name}_s"] = _median(durs(f"scd2.{name}"))
    m["scd2.lock_s"] = _median(durs("scd2.lock") + durs("scd2.unlock"))

    n_updates = len(by_name["scd2.update_snapshot"])
    for attr in ("put_if_absent", "get", "list"):
        inside = [i for i in by_name[f"commit.{attr}"]
                  if _has_ancestor(spans, i, "scd2.update_snapshot")]
        m[f"commit.{attr}"] = len(inside) / n_updates if n_updates else 0.0
    m["commit.conflicts"] = float(sum(info("commit.put_if_absent", "conflict")))

    m["interlace.plan_s"] = _median(durs("interlace"))
    m["interlace.jobs"] = _mean(jobs_of("interlace", "jobs"))
    m["interlace.bucket_days"] = _median(info("interlace", "bucket_days"))
    m["delta_count.plan_s"] = _median(durs("delta_count"))

    for op in OP_TYPES:
        per_field = defaultdict(list)
        for i in by_name[f"op.{op}"]:
            st = job_stats(spans[i].job_lo, spans[i].job_hi)
            for f in SPARK_FIELDS:
                per_field[f].append(st[f])
        for f in SPARK_FIELDS:
            m[f"spark.{op}.{f}"] = _mean(per_field[f])

    for q in registry_names:
        m[f"registry.{q}.build_s"] = _median(durs(f"registry.{q}.build"))
        m[f"registry.{q}.sink_s"] = _median(durs(f"registry.{q}.sink"))
        for f in ("jobs", "tasks", "shuffle_bytes"):
            vals = [job_stats(spans[i].job_lo, spans[i].job_hi)[f]
                    for i in by_name["op.query"]
                    if spans[i].info.get("query") == q]
            m[f"registry.{q}.{f}"] = _mean(vals)
        m[f"registry.{q}.persistent_rdds_after"] = _mean(
            [spans[i].info.get("persistent_rdds", 0) for i in by_name["op.query"]
             if spans[i].info.get("query") == q])
    return m


def _top(spans: list[Span], i: int) -> int:
    while spans[i].parent is not None:
        i = spans[i].parent
    return i


def _has_ancestor(spans: list[Span], i: int, name: str) -> bool:
    p = spans[i].parent
    while p is not None:
        if spans[p].name == name:
            return True
        p = spans[p].parent
    return False
