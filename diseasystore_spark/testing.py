"""Exported conformance suite for store authors.

The reference exports ``test_diseasystore(...)``
(``R/test_diseasystore.R:42-678``) so that downstream packages can
validate their own store implementations against the engine contract.
This is the same surface for Spark stores: call
``run_conformance_suite(StoreClass, spark, ...)`` from any test
harness; it raises ``AssertionError`` on the first contract violation.

Checks ported (reference line citations inline):

1. handler well-formedness (:186-194)
2. golden-by-construction equality: ``get_feature`` output equals a
   direct ``compute()`` clipped to the period, compared via sorted row
   checksums (:311-392) — storage round-trip must be lossless
3. data-contract assertions: rows within study period, DATE-typed
   validity, ``valid_from < valid_until``, no NULL ``valid_from``
   (:335-371)
4. memoization: no missing ranges after compute (:398-410)
5. extended-range recompute equality (:424-516)
6. the observable x stratification ``key_join_features`` matrix with
   date-span assertions (:520-573); aggregator-mismatch failures
   inside the matrix must carry the reference's EXACT error message
   (:559-566), and collision warnings must match the reference's
   warning pattern (:567-570)
7. cached-plan hygiene: after ``release_cached_plans`` the suite must
   not have leaked persisted RDDs — the analog of the reference's
   temp-table leak check (:157-161)
8. feature-independent stratification: constant stratification
   expressions pass through to the output verbatim (:583-610)
9. graceful failure on malformed stratifications — both the bare
   ``non_existent_stratification`` and the named
   ``test = non_existent_stratification`` forms must raise the
   "Stratification could not be computed" guidance error for EVERY
   observable (:614-677)
"""

from __future__ import annotations

import contextlib
import datetime
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diseasystore_spark.contract import validate_feature_frame
from diseasystore_spark.functions.intervals import overlaps_study_period
from diseasystore_spark.plans.store import Diseasystore
from diseasystore_spark.storage.scd2 import row_checksum
from diseasystore_spark.trace import carry, phase


def _sorted_checksums(df: DataFrame) -> list[str]:
    with phase("conformance.checksums"):
        rows = df.select(row_checksum(df.columns).alias("checksum")).collect()
    return sorted(r["checksum"] for r in rows)


def run_conformance_suite(
    store: Diseasystore,
    test_start_date: datetime.date,
    strat_samples: dict[str, Any] | None = None,
    skip_key_join: bool = False,
) -> list[str]:
    """Run the conformance checks against an initialized store.

    ``strat_samples`` optionally maps stratification names to the
    stratification argument used in the matrix (default: the plain
    feature name). Returns the list of check labels that ran. Each
    check is one trace phase, ``conformance.<label>``
    (``diseasystore_spark.trace``), its pooled workers included.
    """
    ran: list[str] = []

    @contextlib.contextmanager
    def check(label: str) -> Iterator[None]:
        with phase(f"conformance.{label}"):
            yield
        ran.append(label)

    test_end_date = test_start_date + datetime.timedelta(days=4)
    sc = store.spark.sparkContext
    cached_before = set(sc._jsc.getPersistentRDDs().keySet().toArray())

    # 1. handler well-formedness (+ min/max bounds sanity, :196-199)
    with check("handlers-well-formed"):
        for feature, loader in store.ds_map.items():
            handler = store.handler(loader)
            assert callable(handler.compute), f"{feature}: compute not callable"
            assert callable(handler.key_join), f"{feature}: key_join not callable"
            assert handler.get is None or callable(handler.get), (
                f"{feature}: get not callable"
            )
        today = datetime.date.today()
        for bound in (store.min_start_date, store.max_end_date):
            assert bound is None or bound <= today, f"future store bound: {bound}"

    # Phases 2-5 run one worker per LOADER (round 12): different
    # features of one loader share a table — the first get_feature
    # computes and merges, the rest are memoized reads — while
    # distinct loaders touch independent tables, so overlapping them
    # is the guide's independent-jobs pattern (the matrix phase below
    # has pooled this way since round 11). Grouping by loader keeps a
    # table's first touch on exactly one worker: two workers racing
    # the same table would park one in the backend's advisory lock
    # spin (15 s sleep increments). Every check still runs, one per
    # FEATURE, and all assertions happen on the main thread in
    # ds_map order.
    from concurrent.futures import ThreadPoolExecutor

    by_loader: dict[str, list[str]] = {}
    for feature, loader in store.ds_map.items():
        by_loader.setdefault(loader, []).append(feature)

    def _pooled_by_loader(check_one):
        """Run ``check_one(feature, loader)`` for every feature, one
        worker per loader group, returning results in ds_map order."""
        results: dict[str, Any] = {}

        def _group(item):
            loader, feats = item
            out = []
            for f in feats:
                # name the feature: a bare worker exception says
                # nothing about which one failed
                try:
                    out.append((f, check_one(f, loader)))
                except Exception as e:
                    raise AssertionError(f"feature {f}: {e}") from e
            return out

        with ThreadPoolExecutor(
            max_workers=min(8, max(1, len(by_loader)))
        ) as pool:
            for pairs in pool.map(carry(_group), by_loader.items()):
                results.update(pairs)
        return [(f, results[f]) for f in store.ds_map]

    def _feature_checks(feature: str, loader: str):
        got = store.get_feature(feature, test_start_date, test_end_date)
        handler = store.handler(loader)
        reference = handler.compute(
            start_date=test_start_date,
            end_date=test_end_date,
            slice_ts=store.slice_ts,
            source_conn=store.source_conn,
            ds=store,
        )
        # 3. contract checks on the compute output
        validate_feature_frame(reference)
        out_of_bounds = reference.where(
            ~overlaps_study_period(test_start_date, test_end_date)
        ).count()
        schema = {f.name: f.dataType for f in reference.schema.fields}
        bad = reference.where(
            F.col("valid_from").isNull()
            | (
                F.col("valid_until").isNotNull()
                & (F.col("valid_from") >= F.col("valid_until"))
            )
        ).count()
        # 2. golden-by-construction equality (storage round-trip
        # lossless; clip reference like get_feature does)
        ref_clipped = reference.where(
            overlaps_study_period(test_start_date, test_end_date)
        )
        got_sums = _sorted_checksums(got)
        ref_sums = _sorted_checksums(ref_clipped)
        # 4. memoization
        target_table = f"{store.target_schema}.{loader}"
        missing = store.determine_missing_ranges(
            target_table, test_start_date, test_end_date, store.slice_ts
        )
        return out_of_bounds, schema, bad, got_sums, ref_sums, missing

    with check("golden-equality+contract+memoization"):
        for feature, r in _pooled_by_loader(_feature_checks):
            out_of_bounds, schema, bad, got_sums, ref_sums, missing = r
            assert out_of_bounds == 0, (
                f"Feature `{feature}` returns data outside the study period."
            )
            for c in ("valid_from", "valid_until"):
                assert isinstance(schema[c], T.DateType), (
                    f"Feature `{feature}` has a non-Date `{c}` column."
                )
            assert bad == 0, (
                f"Feature `{feature}` violates validity ordering."
            )
            assert got_sums == ref_sums, (
                f"Feature `{feature}` mismatch between get_feature and compute."
            )
            assert missing == [], (
                f"missing ranges remain for `{feature}` after computation"
            )

    # 5. extended range
    extended_end = test_start_date + datetime.timedelta(days=9)

    def _extension_checks(feature: str, loader: str):
        got = store.get_feature(feature, test_start_date, extended_end)
        handler = store.handler(loader)
        reference = handler.compute(
            start_date=test_start_date,
            end_date=extended_end,
            slice_ts=store.slice_ts,
            source_conn=store.source_conn,
            ds=store,
        ).where(overlaps_study_period(test_start_date, extended_end))
        return _sorted_checksums(got), _sorted_checksums(reference)

    with check("extension-equality"):
        for feature, (got_sums, ref_sums) in _pooled_by_loader(
            _extension_checks
        ):
            assert got_sums == ref_sums, (
                f"Feature `{feature}` mismatch after range extension."
            )

    # 6. key_join matrix: the reference's exhaustive expand.grid sweep
    # (:545-573). Failures must be GRACEFUL — a ValueError inside the
    # matrix is only acceptable if it is the reference's exact
    # aggregator-mismatch message (:559-566); a warning only if it
    # matches the collision pattern (:567-570). Successful combinations
    # must span exactly [start, end] (:520-524).
    _AGG_MISMATCH = (
        "(At least one) stratification feature does not match "
        "observable aggregator. Not implemented yet."
    )
    if not skip_key_join:
        strat_samples = strat_samples or {}
        import threading as _threading
        import warnings as _warnings
        from concurrent.futures import ThreadPoolExecutor

        # CONSTRUCT + RUN every matrix cell in one pool pass (round
        # 11; round 10 threaded only the actions because
        # warnings.catch_warnings is process-global, so per-cell
        # capture was not thread-safe). Here ONE catch_warnings
        # context wraps the whole pool — filters set before any
        # worker starts — and a thread-local showwarning routes each
        # warning to the cell its own thread is constructing; the
        # contract ASSERTIONS all run on the main thread afterwards.
        # Construction is read-only at this point (every feature was
        # computed and memoized in phases 1-5), and fusing the bounds
        # action into the same worker removes the construction/action
        # barrier: cells overlap end-to-end, each dominated by fixed
        # per-query latency (profiled at 46% of the scaled-
        # conformance workload, SCALE.md round-10).
        combos: list[tuple[Any, Any]] = []
        for observable in store.available_observables:
            strats: list[Any] = [None] + [
                strat_samples.get(s, [s])
                for s in store.available_stratifications
            ]
            combos.extend((observable, strat) for strat in strats)

        _tls = _threading.local()

        def _route_warning(message, category, filename, lineno,
                           file=None, line=None):
            lst = getattr(_tls, "caught", None)
            if lst is not None:
                lst.append((message, category))

        def _cell(combo):
            observable, strat = combo
            _tls.caught = []
            try:
                out = store.key_join_features(
                    observable, strat, test_start_date, extended_end
                )
            except ValueError as e:
                return observable, strat, None, list(_tls.caught), e
            finally:
                caught, _tls.caught = _tls.caught, None
            b = out.agg(
                F.min("date").alias("mn"), F.max("date").alias("mx")
            ).first()
            return observable, strat, b, caught, None

        with check("key-join-matrix"):
            results = []
            if combos:
                with _warnings.catch_warnings():
                    _warnings.simplefilter("always")
                    _warnings.showwarning = _route_warning
                    with ThreadPoolExecutor(
                        max_workers=min(8, len(combos))
                    ) as pool:
                        results = list(pool.map(carry(_cell), combos))
            for observable, strat, b, caught, err in results:
                if err is not None:
                    assert str(err) == _AGG_MISMATCH, (
                        f"non-graceful matrix failure for ({observable}, "
                        f"{strat}): {err}"
                    )
                    continue
                for message, category in caught:
                    # Interpreter noise (e.g. py4j socket
                    # ResourceWarnings) is not part of the contract —
                    # only the engine's own UserWarnings are.
                    if not issubclass(category, UserWarning):
                        continue
                    assert "Observable already stratified by" in str(
                        message
                    ), (
                        f"unexpected warning for ({observable}, {strat}): "
                        f"{message}"
                    )
                assert b["mn"] == test_start_date, (observable, strat)
                assert b["mx"] == extended_end, (observable, strat)

        # 8. feature-independent stratification (:583-610): constant
        # expressions become output columns with exactly those values.
        if store.available_observables:
            with check("feature-independent-stratification"):
                out = store.key_join_features(
                    store.available_observables[0],
                    {"string": "'test'", "number": "2"},
                    test_start_date,
                    extended_end,
                )
                consts = (
                    out.select("string", "number").distinct().collect()
                )
                assert len(consts) == 1, "constant strata must be constant"
                assert consts[0]["string"] == "test", consts
                assert int(consts[0]["number"]) == 2, consts

        # 9. graceful failure on malformed stratifications (:614-677):
        # both the bare-name and the named-expression forms, for every
        # observable. Constructions are independent (no warnings
        # involved — the failure is a ValueError from the analysis
        # probe), so they run in the same pool shape as the matrix;
        # the message assertions run on the main thread.
        fail_combos = [
            (observable, strat)
            for observable in store.available_observables
            for strat in (
                ["non_existent_stratification"],
                {"test": "non_existent_stratification"},
            )
        ]

        def _expect_failure(combo):
            observable, strat = combo
            try:
                store.key_join_features(
                    observable, strat, test_start_date, extended_end
                )
            except ValueError as e:
                return observable, strat, e
            return observable, strat, None

        if fail_combos:
            with check("graceful-failure-messages"):
                with ThreadPoolExecutor(
                    max_workers=min(8, len(fail_combos))
                ) as pool:
                    for observable, strat, err in pool.map(
                        carry(_expect_failure), fail_combos
                    ):
                        assert err is not None, (
                            f"({observable}, {strat}) should have failed"
                        )
                        assert "Stratification could not be computed" in (
                            str(err)
                        ), (
                            "wrong graceful-failure message for "
                            f"({observable}, {strat}): {err}"
                        )

    # 7. cached-plan hygiene (the reference's temp-table leak check,
    # :157-161): everything the suite persisted must be releasable —
    # only caches that existed before the suite may remain.
    with check("cached-plan-hygiene"):
        store.release_cached_plans()
        cached_after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        leaked = cached_after - cached_before
        if leaked:
            # Grace for asynchronous block removal (unpersist of plans
            # this store does not own — e.g. a query's localCheckpoint
            # being GC'd — completes off-thread): a REAL leak survives
            # the re-check.
            import time as _time

            _time.sleep(2.0)
            cached_after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
            leaked = cached_after - cached_before
        assert not leaked, f"conformance suite leaked cached plans: {leaked}"

    return ran
