"""Diseasystore — the feature-store engine base class.

Parity target: ``R/DiseasystoreBase.R`` (R6 class ``DiseasystoreBase``).
The three entry points and their reference lifecycles:

- ``get_feature``      -> ``R/DiseasystoreBase.R:99-274``
- ``key_join_features``-> ``R/DiseasystoreBase.R:286-506``
- ``determine_missing_ranges`` -> ``R/DiseasystoreBase.R:522-605``

Spark-first deviations (all documented inline):

- ``get_feature`` clips with a pushdown-friendly literal filter
  instead of the reference's 1-row theta join (the join existed for
  SQLite date-affinity, not semantics).
- ``key_join_features`` returns a *lazy* DataFrame (the reference
  collects eagerly at ``:499``); callers ``.collect()``/``.toPandas()``
  when they want rows.
- Stratification expressions are Spark SQL strings (or Columns), the
  analog of the reference's dbplyr-translated quosures (X4,
  ``R/DiseasystoreBase.R:286-292,441-452``). Feature dependencies are
  sniffed lexically with the same word-boundary regex
  (``R/DiseasystoreBase.R:359-369``).
"""

from __future__ import annotations

import datetime
import re
import warnings
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from diseasystore_spark.config import diseasyoption
from diseasystore_spark.contract import key_columns
from diseasystore_spark.functions.intervals import (
    clamp_to_study_period,
    overlaps_study_period,
)
from diseasystore_spark.operators.delta_count import delta_count_prevalence
from diseasystore_spark.operators.interlace import truncate_interlace
from diseasystore_spark.operators.missing_ranges import missing_date_ranges
from diseasystore_spark.plans.feature_handler import FeatureHandler
from diseasystore_spark.storage.scd2 import (
    LOGS_TABLE,
    ParquetFeatureStore,
    normalize_slice_ts,
)
from diseasystore_spark.trace import phase

DateRange = tuple[datetime.date, datetime.date]

_RANGE_START_RE = re.compile(r"(?<=ds-range: )(\d{4}-\d{2}-\d{2})")
_RANGE_END_RE = re.compile(r"(\d{4}-\d{2}-\d{2})$")


class Diseasystore:
    """Base feature store. Subclasses declare ``_ds_map`` (feature name
    -> handler attribute name) and ``FeatureHandler`` class attributes,
    exactly like the reference's private fields
    (``tests/testthat/test-DiseasystoreBase.R:107-145`` pattern).

    Features are stored by a :class:`ParquetFeatureStore` under
    ``target_conn`` in its one SCD2 layout, each write sized to its
    rows; ``partition_granularity`` (``None`` or ``"month"``) is passed
    through and validated there, and both values mean that layout."""

    _ds_map: dict[str, str] = {}
    _observables_regex: str = r"^n_(?=\w)"
    _label: str | None = None
    _min_start_date: datetime.date | None = None
    _max_end_date: datetime.date | None = None

    def __init__(
        self,
        spark: SparkSession,
        target_conn: str | None = None,
        source_conn: Any = None,
        target_schema: str | None = None,
        start_date: datetime.date | None = None,
        end_date: datetime.date | None = None,
        slice_ts: Any = None,
        verbose: bool | None = None,
        partition_granularity: str | None = None,
    ):
        self.spark = spark
        self.start_date = start_date
        self.end_date = end_date
        self.slice_ts = slice_ts if slice_ts is not None else datetime.date.today()
        self.verbose = (
            verbose
            if verbose is not None
            else diseasyoption("verbose", self, default=True)
        )
        if source_conn is None:
            source_conn = diseasyoption("source_conn", self)
        # Conn polymorphism (X8): strings/paths pass through, zero-arg
        # factories are called, "" is unset.
        from diseasystore_spark.sources.helpers import parse_diseasyconn

        self.source_conn = parse_diseasyconn(source_conn, "source_conn")
        if target_conn is None:
            target_conn = diseasyoption("target_conn", self)
        if not target_conn:
            raise ValueError(
                f"target_conn option not defined for {type(self).__name__}"
            )
        self.target_conn = target_conn
        if target_schema is None:
            target_schema = diseasyoption("target_schema", self, default="ds")
        self.target_schema = target_schema
        self.backend = ParquetFeatureStore(
            spark, target_conn, partition_granularity=partition_granularity
        )
        # Cached plans handed out by key_join_features that are still
        # live (the returned DataFrame references them lazily),
        # REFCOUNTED by semantic plan hash: concurrent matrix
        # construction (the conformance suite's pool, round 11) can
        # hand two threads the SAME logical plan — Spark's
        # CacheManager dedups the cache entry, so one thread's
        # per-thread swap unpersisting it would yank the entry while
        # the sibling's compiled job re-materializes the RDD with no
        # registry entry left to release it (the leaked-RDD flake).
        # A plan is unpersisted only when NO thread still holds it;
        # release_cached_plans() drains everything.
        import threading as _threading

        self._cache_refs: dict[int, tuple[DataFrame, int]] = {}
        self._cache_by_thread: dict[int, int] = {}
        self._deferred_unpersist: list[DataFrame] = []
        self._cache_lock = _threading.Lock()

    def _register_cache(self, out: DataFrame) -> None:
        """Swap ``out`` in as the calling thread's live cached plan.

        The thread's previous plan is released when its refcount
        drops to zero — but physically unpersisted ONLY when no other
        thread holds a registration: one cell's cached plan can be a
        SUBTREE of a sibling's (the matrix's ``(obs, None)`` frame
        inside every ``(obs, strat)`` frame), and unpersisting it
        makes Spark's CacheManager rebuild the dependent entries
        (``recacheByCondition``) while a sibling's already-compiled
        job re-materializes the OLD entry's RDD — an orphaned
        persisted RDD no handle can release (the round-11 leak
        flake). With other threads live the release is DEFERRED to
        ``release_cached_plans`` (called once the pool's results are
        consumed); a sequential caller keeps the round-10 behavior of
        pinning at most one frame. ``cache()`` is called only for
        plans not already registered — the CacheManager matches by
        plan equivalence, so a second handle rides the existing
        entry."""
        import threading as _threading

        h = out.semanticHash()
        tid = _threading.get_ident()
        to_unpersist: DataFrame | None = None
        with self._cache_lock:
            prev_h = self._cache_by_thread.pop(tid, None)
            if prev_h is not None and prev_h != h:
                entry = self._cache_refs.get(prev_h)
                if entry is not None:
                    df, n = entry
                    if n <= 1:
                        self._cache_refs.pop(prev_h)
                        if any(
                            t != tid for t in self._cache_by_thread
                        ):
                            self._deferred_unpersist.append(df)
                        else:
                            to_unpersist = df
                    else:
                        self._cache_refs[prev_h] = (df, n - 1)
            if prev_h != h:
                df, n = self._cache_refs.get(h, (out, 0))
                self._cache_refs[h] = (df, n + 1)
                need_cache = n == 0
            else:
                # same plan re-registered by the same thread: the
                # count already includes this thread — unless an
                # interleaved release_cached_plans drained it, in
                # which case re-cache from scratch
                entry = self._cache_refs.get(h)
                if entry is None:
                    self._cache_refs[h] = (out, 1)
                    need_cache = True
                else:
                    need_cache = False
            self._cache_by_thread[tid] = h
        if need_cache:
            out.cache()
        if to_unpersist is not None:
            to_unpersist.unpersist()

    def release_cached_plans(self) -> None:
        """Unpersist cached intermediates from prior
        ``key_join_features`` calls. The returned DataFrames stay
        valid (they recompute if re-executed); call this once results
        are consumed. The analog of the reference's temp-table hygiene
        (``defer_db_cleanup``; leak-checked at
        ``R/test_diseasystore.R:157-161``)."""
        with self._cache_lock:
            # deferred frames are the EARLIEST registrations (inner
            # subtrees swapped out mid-pool): concatenate them first
            # so the reversed drain below releases the still-
            # registered dependents before the subtrees they embed
            drained = self._deferred_unpersist + [
                df for df, _n in self._cache_refs.values()
            ]
            self._cache_refs.clear()
            self._cache_by_thread.clear()
            self._deferred_unpersist = []
        # Reverse registration order: dependents before the subtrees
        # they embed, so the CacheManager never rebuilds a dependent
        # entry we are about to drop anyway. Blocking: callers use
        # this as the hygiene barrier (the conformance leak check
        # reads getPersistentRDDs right after), so the async default
        # would race it.
        for df in reversed(drained):
            df.unpersist(blocking=True)

    # ----------------------------------------------------------- registry
    @property
    def ds_map(self) -> dict[str, str]:
        """Walk the class hierarchy, concatenating inherited maps
        (``R/DiseasystoreBase.R:613-625``). Base-most entries first;
        on a name clash the most-derived class wins."""
        merged: dict[str, str] = {}
        for klass in reversed(type(self).__mro__):
            merged.update(getattr(klass, "_ds_map", {}))
        return merged

    @property
    def available_features(self) -> list[str]:
        return list(self.ds_map.keys())

    @property
    def observables_regex(self) -> str:
        return self._observables_regex

    @property
    def available_observables(self) -> list[str]:
        rx = re.compile(self.observables_regex)
        return [f for f in self.available_features if rx.search(f)]

    @property
    def available_stratifications(self) -> list[str]:
        rx = re.compile(self.observables_regex)
        return [f for f in self.available_features if not rx.search(f)]

    @property
    def label(self) -> str | None:
        return self._label

    @property
    def min_start_date(self) -> datetime.date | None:
        return self._min_start_date

    @property
    def max_end_date(self) -> datetime.date | None:
        return self._max_end_date

    def handler(self, loader_name: str) -> FeatureHandler:
        h = getattr(self, loader_name, None)
        if not isinstance(h, FeatureHandler):
            raise KeyError(f"no FeatureHandler named {loader_name!r}")
        return h

    # -------------------------------------------------------- get_feature
    @phase("store.get_feature")
    def get_feature(
        self,
        feature: str,
        start_date: datetime.date | None = None,
        end_date: datetime.date | None = None,
        slice_ts: Any = None,
    ) -> DataFrame:
        """Compute-on-miss, store (SCD2), and return the feature clipped
        to the study period (``R/DiseasystoreBase.R:99-274``)."""
        start_date = start_date or self.start_date
        end_date = end_date or self.end_date
        slice_ts = slice_ts if slice_ts is not None else self.slice_ts
        if feature not in self.ds_map:
            raise KeyError(
                f"feature {feature!r} not in ds_map; available: "
                f"{self.available_features}"
            )
        if start_date is None or end_date is None:
            raise ValueError("start_date and end_date must be provided")
        if self.min_start_date and start_date < self.min_start_date:
            raise ValueError(
                f"start_date {start_date} before min_start_date {self.min_start_date}"
            )
        if self.max_end_date and end_date > self.max_end_date:
            raise ValueError(
                f"end_date {end_date} after max_end_date {self.max_end_date}"
            )

        feature_loader = self.ds_map[feature]
        target_table = f"{self.target_schema}.{feature_loader}"
        with phase("store.missing_ranges", table=target_table):
            missing = self.determine_missing_ranges(
                target_table, start_date, end_date, slice_ts
            )
        if missing:
            self.backend.lock(
                target_table,
                diseasyoption("lock_wait_increment", self, default=15),
                diseasyoption("lock_wait_max", self, default=30 * 60),
            )
            try:
                # Double-checked locking (:160-165): another writer may
                # have filled the ranges while we waited.
                missing = self.determine_missing_ranges(
                    target_table, start_date, end_date, slice_ts
                )
                if missing and self.verbose:
                    print(
                        f"feature: {feature} needs to be computed on the "
                        "specified date interval. please wait..."
                    )
                for range_start, range_end in missing:
                    self._compute_and_store_range(
                        feature_loader, target_table, range_start, range_end, slice_ts
                    )
            finally:
                self.backend.unlock(target_table)

        with phase("store.read"):
            out = self.handler(feature_loader).read(
                self,
                target_table,
                slice_ts,
                max_valid_from=end_date,
                # sound because of the overlap clip right below: months
                # whose every row closed at-or-before start_date hold
                # nothing the clip keeps (pruned by the manifest's file
                # stats records)
                min_valid_until=start_date,
            )
        # Clip to the study period. The reference theta-joins a 1-row
        # bounds table (``:259-269``); a literal filter is semantically
        # identical and lets Catalyst push the predicate to the scan.
        return out.where(overlaps_study_period(start_date, end_date))

    def _compute_and_store_range(
        self,
        feature_loader: str,
        target_table: str,
        range_start: datetime.date,
        range_end: datetime.date,
        slice_ts: Any,
    ) -> None:
        """One missing range: compute, SCD2-merge, log
        (``R/DiseasystoreBase.R:175-240``). The merge is scoped to the
        range (``written_range``): it closes only rows whose validity
        overlaps it and carries later months forward unread, so rows
        outside the range stay untouched — the end state the reference
        reaches by re-including the current out-of-range rows into the
        compared frame (``:195-212``), without re-reading the table on
        every write."""
        with phase("store.compute", range=f"{range_start}..{range_end}"):
            computed = self.handler(feature_loader).compute(
                start_date=range_start,
                end_date=range_end,
                slice_ts=slice_ts,
                source_conn=self.source_conn,
                ds=self,
            )
        message = f"ds-range: {range_start} - {range_end}"
        try:
            with phase("store.write"):
                self.backend.update_snapshot(
                    computed, target_table, slice_ts, (range_start, range_end)
                )
        except Exception:
            self.backend.append_log(
                self.target_schema, target_table, slice_ts, message, success=False
            )
            raise
        self.backend.append_log(
            self.target_schema, target_table, slice_ts, message, success=True
        )

    # ------------------------------------------------- key_join_features
    @phase("store.key_join")
    def key_join_features(
        self,
        observable: str,
        stratification: dict[str, str | Column] | list[str] | None = None,
        start_date: datetime.date | None = None,
        end_date: datetime.date | None = None,
    ) -> DataFrame:
        """Stratified daily prevalence of ``observable``
        (``R/DiseasystoreBase.R:286-506``). Returns a lazy DataFrame
        with columns ``(date, *stratification, <observable>)``."""
        start_date = start_date or self.start_date
        end_date = end_date or self.end_date
        if observable not in self.available_observables:
            raise ValueError(
                f"{observable!r} is not an observable; available: "
                f"{self.available_observables}"
            )
        if start_date is None or end_date is None:
            raise ValueError("start_date and end_date must be provided")

        # Normalize stratification to an ordered {name: expr} dict.
        strat_exprs: dict[str, str | Column] = {}
        if stratification is not None:
            if isinstance(stratification, dict):
                strat_exprs = dict(stratification)
            else:
                strat_exprs = {name: name for name in stratification}

        ds_map = self.ds_map
        # Study window: valid_until bound is end + 1 day (half-open,
        # ``R/DiseasystoreBase.R:303``).
        until_date = end_date + datetime.timedelta(days=1)

        with phase("key_join.feature_reads", observable=observable):
            observable_data = self.get_feature(observable, start_date, end_date)
            observable_data = clamp_to_study_period(
                observable_data, start_date, until_date
            )

        # Warn when a *computed* stratification collides with an existing
        # column (``:331-345`` — warning, not error).
        new_strats = [
            name
            for name, expr in strat_exprs.items()
            if not (isinstance(expr, str) and expr == name)
        ]
        collisions = [c for c in new_strats if c in observable_data.columns]
        if collisions:
            warnings.warn(
                f"Observable already stratified by: {', '.join(collisions)}. "
                "Output might be inconsistent with expectation.",
                stacklevel=2,
            )

        stratification_features: list[str] = []
        strat_data: list[DataFrame] = []
        if strat_exprs:
            # Lexical feature sniffing with the reference's word-boundary
            # regex (``:359-369``).
            texts = [
                expr if isinstance(expr, str) else str(expr)
                for expr in strat_exprs.values()
            ]
            for feat in ds_map:
                rx = re.compile(rf"(?<![\w]){re.escape(feat)}(?![\w])")
                if any(rx.search(t) for t in texts):
                    stratification_features.append(feat)

            # Stratifying *by an observable* is forbidden (``:378-379``).
            if any(n in self.available_observables for n in strat_exprs):
                raise ValueError("Stratification features cannot be observables")

            with phase("key_join.feature_reads"):
                for feat in stratification_features:
                    if feat in observable_data.columns:
                        continue  # already present on the observable (``:383``)
                    feat_df = self.get_feature(feat, start_date, end_date)
                    strat_data.append(
                        clamp_to_study_period(feat_df, start_date, until_date)
                    )

        # ``interlace_bucket_days`` (scoped option, default "auto")
        # governs the interlace containment joins: "auto" switches to
        # equi joins on ``(keys..., W-day bucket)`` when the average
        # key group exceeds ``interlace_auto_threshold`` rows — the
        # scale path for stores whose key columns have few distinct
        # values (see ``operators/interlace.py``). The decision is
        # made from the backend's WRITE-time table statistics
        # (``storage/scd2.py:_write_stats`` — the ANALYZE analog), so
        # it costs ZERO query-time jobs; only a table missing stats
        # falls back to the one-job live probe. An int forces that
        # width; None forces the plain sort-merge path. The auto path's
        # ``width_from_stats`` notes the width and its statistics on
        # the open trace phase.
        with phase("key_join.interlace"):
            bucket_days = diseasyoption(
                "interlace_bucket_days", self, default="auto"
            )
            auto_threshold = diseasyoption(
                "interlace_auto_threshold", self, default=2000.0
            )
            if bucket_days == "auto" and strat_data:
                stats = [
                    self.backend.table_stats(
                        f"{self.target_schema}.{ds_map[f]}"
                    )
                    for f in [observable, *stratification_features]
                ]
                if all(s is not None for s in stats):
                    from diseasystore_spark.operators.interlace import (
                        width_from_stats,
                    )

                    bucket_days = width_from_stats(
                        sum(s["n"] for s in stats),
                        max(s["k"] for s in stats),
                        max(s["span_days"] for s in stats),
                        max(s["avg_span"] for s in stats),
                        auto_threshold,
                    )
            out = (
                truncate_interlace(
                    observable_data,
                    strat_data,
                    bucket_days=bucket_days,
                    auto_threshold=auto_threshold,
                )
                if strat_data
                else observable_data
            )

        # Store-specific de-double-counting hook (``:775-779`` default).
        with phase("key_join.filter_cache"):
            out = self.key_join_filter(
                out, stratification_features, start_date, end_date
            )

            # Materialization point (S8): the filtered/interlaced frame is
            # consumed three times downstream (t_add, t_remove, distinct
            # strata) — cache it so the interlace joins run once. Mirrors
            # the reference's ``dplyr::compute`` at ``:413/:459/:467``.
            # The calling THREAD's previous cache is released here (its
            # result, once collected, no longer needs it), so a long-lived
            # store pins at most one interlaced frame per thread in
            # executor storage — and the conformance matrix's concurrent
            # construction cannot unpersist a sibling cell's live frame
            # (refcounted by plan hash; cache() happens inside).
            self._register_cache(out)

        # Aggregator compatibility (``:427-438``).
        aggregators = [self.handler(ds_map[observable]).key_join]
        for feat in stratification_features:
            aggregators.append(self.handler(ds_map[feat]).key_join)
        if len({id(a) for a in aggregators}) > 1:
            raise ValueError(
                "(At least one) stratification feature does not match "
                "observable aggregator. Not implemented yet."
            )
        aggregator = aggregators[0]

        # Resolve stratification expressions; analysis errors get the
        # reference's guidance message (``:441-452``).
        resolved: dict[str, Column] = {}
        for name, expr in strat_exprs.items():
            resolved[name] = expr if isinstance(expr, Column) else F.expr(expr)
        if resolved:
            try:
                out.withColumns(resolved).schema  # analysis-only probe
            except Exception as e:  # AnalysisException and friends
                raise ValueError(
                    f"Stratification could not be computed. Error {e}. "
                    "Available stratification variables are: "
                    f"{', '.join(self.available_stratifications)}"
                ) from e

        with phase("key_join.delta_count"):
            return delta_count_prevalence(
                out,
                resolved,
                observable,
                aggregator,
                self.spark,
                start_date,
                end_date,
            )

    # Overridable hook (P6) — identity by default.
    def key_join_filter(
        self,
        data: DataFrame,
        stratification_features: list[str],
        start_date: datetime.date,
        end_date: datetime.date,
    ) -> DataFrame:
        return data

    # ------------------------------------------- determine_missing_ranges
    def determine_missing_ranges(
        self,
        target_table: str,
        start_date: datetime.date,
        end_date: datetime.date,
        slice_ts: Any,
    ) -> list[DateRange]:
        """Parse successful 'ds-range' log rows for this table at this
        exact ``slice_ts`` and return the uncovered sub-ranges
        (``R/DiseasystoreBase.R:522-605``). Memoization is keyed by
        ``slice_ts`` — a range computed for slice A is not reused for
        slice B (``:533-537``)."""
        ts = normalize_slice_ts(slice_ts)
        pdf = self.backend.read_logs_pandas(self.target_schema)
        if len(pdf):
            pdf = pdf[
                (pdf["date"] == ts)
                & ((pdf["schema"] + "." + pdf["table"]) == target_table)
            ]
        rows = pdf.to_dict("records")
        if not rows:
            return [(start_date, end_date)]

        covered: list[DateRange] = []
        for row in rows:
            if not row["success"]:
                continue
            m_start = _RANGE_START_RE.search(row["message"] or "")
            m_end = _RANGE_END_RE.search(row["message"] or "")
            if not m_start or not m_end:
                continue
            s = datetime.date.fromisoformat(m_start.group(1))
            e = datetime.date.fromisoformat(m_end.group(1))
            # Keep only entries overlapping the request (``:553-558``).
            if s <= end_date and start_date <= e:
                covered.append((s, e))
        return missing_date_ranges(covered, start_date, end_date)


def drop_diseasystore(
    backend: ParquetFeatureStore,
    pattern: str | None = None,
    schema: str | None = None,
) -> None:
    """Drop feature-store tables matching ``pattern`` in ``schema``,
    plus their log rows; the ``logs`` table itself may only be dropped
    with the whole store (``R/drop_diseasystore.R:16-100``)."""
    if schema is None:
        schema = diseasyoption("target_schema", default="ds")
    tables = backend.list_tables(schema)
    if not tables:
        return
    prefix = f"{schema}.{pattern or ''}"
    to_delete = [t for t in tables if t.startswith(prefix)]
    logs_id = f"{schema}.{LOGS_TABLE}"
    if logs_id in to_delete and set(to_delete) != set(tables):
        raise ValueError(
            f"'{schema}.logs' set to delete. "
            "Can only delete if entire feature store is dropped!"
        )
    feature_tables = [t for t in to_delete if t != logs_id]
    for t in feature_tables:
        backend.drop_table(t)
    if logs_id in to_delete:
        backend.drop_table(logs_id)
    else:
        backend.delete_logs_for(schema, feature_tables)
