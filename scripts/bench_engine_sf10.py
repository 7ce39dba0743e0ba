"""Engine-core E2E at sf10-equivalent volume: drive the ACTUAL
flagship path — ``get_feature`` (compute → SCD2 store → memoized
re-read) and ``key_join_features`` (interlace → delta-count → cumsum
prevalence) — over a ~10M-row synthetic multi-feature store, not the
32k-row test fixture. SCALE.md's merge benches prove the STORAGE
layer flat; this proves the query path on top of it.

Store shape (chosen to stress what the engine actually does at
corpus scale):

- observable ``n_active``: ``N_ROWS`` (default 10M) activity
  intervals over 24 months, ~``N_KEYS`` (default 500k) persons, 1-14
  day validity spans — the dense side of the interlace;
- stratification ``region``: one long-lived interval per person over
  20 regions — the dimension side;
- month-partitioned SCD2 storage (the registry stores' default).

Timed phases (gc between each, per the bench hygiene note):

1. ``get_feature`` COLD — compute + SCD2 initial write + snapshot read
2. ``get_feature`` WARM — must be memoized (no log growth, no write)
3. ``key_join_features('n_active', ['region'])`` — the prevalence
   pipeline over the stored features, counted to force execution
4. scoped BACKFILL — a second slice_ts writing one month's revision
   through the range-scoped merge

Plus a shuffle inventory of the key_join plan via
``plans.lint.plan_summary`` — exchanges / broadcasts / python nodes —
the evidence that the composition (not just each operator) keeps the
plan shapes the repo promises.

Emits one JSON line. Usage:
    python scripts/bench_engine_sf10.py [n_rows] [n_keys]
"""

from __future__ import annotations

import datetime
import gc
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

D = datetime.date
T = datetime.datetime


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    from diseasystore_spark import Diseasystore, FeatureHandler, key_join_sum
    from diseasystore_spark.plans.lint import plan_summary
    from diseasystore_spark.session import get_spark

    spark = get_spark("engine-sf10")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

    def activity(start_date, end_date, slice_ts, source_conn, ds):
        # slices from March 2024 onward see REVISED June-2020 values
        # (bump +10): the revision phase below uses this to create a
        # real closed-history generation for the transaction-axis
        # pruning pins (round 11)
        bump = (
            str(slice_ts) >= "2024-03-01"
        )
        base = ds.spark.range(n_rows).select(
            F.concat(F.lit("p"), (F.col("id") % n_keys)).alias("key_person"),
            (F.col("id") % 5 + 1).cast("double").alias("n_active"),
            F.date_add(
                F.lit(D(2020, 1, 1)),
                ((F.col("id") * 127) % 730).cast("int"),
            ).alias("valid_from"),
            ((F.col("id") * 13) % 14 + 1).cast("int").alias("__span"),
        )
        out = base.select(
            "key_person",
            "n_active",
            "valid_from",
            F.date_add("valid_from", F.col("__span")).alias("valid_until"),
        )
        if bump:
            out = out.withColumn(
                "n_active",
                F.when(
                    (F.col("valid_from") >= F.lit(D(2020, 6, 1)))
                    & (F.col("valid_from") <= F.lit(D(2020, 6, 30))),
                    F.col("n_active") + 10.0,
                ).otherwise(F.col("n_active")),
            )
        # compute contract: only rows overlapping the requested study
        # period (R/test_diseasystore.R:335-343) — without this clip
        # a scoped backfill's merge detects out-of-range months and
        # legitimately falls back to an UNSCOPED full compare, so the
        # benchmark would measure the fallback, not the scoped path.
        return out.where(
            (F.col("valid_from") <= F.lit(end_date))
            & (F.col("valid_until") > F.lit(start_date))
        )

    def regions(start_date, end_date, slice_ts, source_conn, ds):
        return ds.spark.range(n_keys).select(
            F.concat(F.lit("p"), F.col("id")).alias("key_person"),
            F.concat(F.lit("r"), (F.col("id") % 20)).alias("region"),
            F.lit(D(2020, 1, 1)).alias("valid_from"),
            F.lit(None).cast("date").alias("valid_until"),
        )

    class BigStore(Diseasystore):
        _ds_map = {"n_active": "big_activity", "region": "big_region"}
        big_activity = FeatureHandler(
            compute=activity, key_join=key_join_sum
        )
        big_region = FeatureHandler(compute=regions, key_join=key_join_sum)

    root = tempfile.mkdtemp(prefix="engine_sf10_")
    slice1, slice2 = T(2024, 1, 1), T(2024, 2, 1)
    ds = BigStore(
        spark, target_conn=root, source_conn="x",
        slice_ts=slice1, verbose=False,
        partition_granularity="month",
    )
    start, end = D(2020, 1, 1), D(2021, 12, 31)
    out: dict[str, object] = {"n_rows": n_rows, "n_keys": n_keys}

    def timed(label, fn):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        r = fn()
        out[label] = round(time.perf_counter() - t0, 1)
        return r

    f1 = timed(
        "get_feature_cold_s",
        lambda: ds.get_feature("n_active", start, end).count(),
    )
    out["feature_rows"] = f1
    logs_before = ds.backend.read_logs_pandas(ds.target_schema).shape[0]
    timed(
        "get_feature_warm_s",
        lambda: ds.get_feature("n_active", start, end).count(),
    )
    logs_after = ds.backend.read_logs_pandas(ds.target_schema).shape[0]
    assert logs_after == logs_before, "warm get_feature was not memoized"

    kj = ds.key_join_features("n_active", ["region"], start, end)
    out["key_join_rows"] = timed("key_join_s", lambda: kj.count())
    out["key_join_plan"] = plan_summary(kj)
    ds.release_cached_plans()

    # scoped backfill at a second slice_ts: one month revised through
    # the range-scoped merge (engine writes are always range-scoped).
    # Split the wall between the SOURCE COMPUTE (the handler's 10M-row
    # generation, O(corpus) regardless of the backfill window — a
    # property of THIS synthetic handler, not the engine) and the
    # engine's merge+read, by timing update_snapshot from inside.
    ds2 = BigStore(
        spark, target_conn=root, source_conn="x",
        slice_ts=slice2, verbose=False,
        partition_granularity="month",
    )
    from diseasystore_spark.storage import scd2 as scd2_mod

    merge_acc = [0.0, 0]
    orig_us = scd2_mod.ParquetFeatureStore.update_snapshot

    def timed_us(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return orig_us(self, *a, **kw)
        finally:
            merge_acc[0] += time.perf_counter() - t0
            merge_acc[1] += 1

    scd2_mod.ParquetFeatureStore.update_snapshot = timed_us
    try:
        timed(
            "backfill_month_s",
            lambda: ds2.get_feature(
                "n_active", D(2020, 6, 1), D(2020, 6, 30)
            ).count(),
        )
    finally:
        scd2_mod.ParquetFeatureStore.update_snapshot = orig_us
    out["backfill_merge_s"] = round(merge_acc[0], 1)
    out["backfill_merges"] = merge_acc[1]

    # Partition-pruning pin (VERDICT r9 item 2): a study period ending
    # in June hands the reader ONLY months <= 2020-06 at the MANIFEST
    # (zero listing of later months) — assert the pruned file list is
    # a strict subset sized by the month cut, and record the counts.
    store = ds2.backend
    tid = f"{ds2.target_schema}.big_activity"
    man = store._manifest_of(tid, store._current_version(tid))
    all_months = sorted(man["months"])
    kept_months = [m for m in all_months if m <= "2020-06"]

    def refs(months) -> set[str]:
        # distinct files: a packed bin is listed under each of its months
        return {r for m in months for r in man["months"][m]}

    n_total = len(refs(all_months))
    n_kept = len(refs(kept_months))
    # transaction-axis accounting: files whose stats record proves
    # them invisible at slice2 (max until_ts / min from_ts) are
    # additionally dropped — mirror the reader's rule here so the pin
    # is exact
    def txn_visible(r: str, ts) -> bool:
        rec = man["file_stats"][r]
        u, f = rec["max_until_ts"], rec["min_from_ts"]
        if u is not None and T.fromisoformat(u) <= ts:
            return False
        return f is None or T.fromisoformat(f) <= ts

    n_kept_visible = sum(1 for r in refs(kept_months) if txn_visible(r, slice2))
    pruned_df = store.get_table(
        tid, slice2, max_valid_from=D(2020, 6, 30)
    )
    scan_files = [
        f
        for f in pruned_df.inputFiles()
    ]
    assert len(scan_files) == n_kept_visible <= n_kept < n_total, (
        len(scan_files), n_kept_visible, n_kept, n_total,
    )
    out["prune_months_total"] = len(all_months)
    out["prune_months_read"] = len(kept_months)
    out["prune_files_total"] = n_total
    out["prune_files_read"] = len(scan_files)

    # REVISION at a third slice: the handler bumps every June-2020
    # value, so the scoped merge CLOSES the old June generation and
    # inserts its replacement — a real bitemporal history, unlike the
    # checksum-identical backfill above (whose merge is a no-op).
    slice3 = T(2024, 3, 1)
    ds3 = BigStore(
        spark, target_conn=root, source_conn="x",
        slice_ts=slice3, verbose=False,
        partition_granularity="month",
    )
    timed(
        "revision_month_s",
        lambda: ds3.get_feature(
            "n_active", D(2020, 6, 1), D(2020, 6, 30)
        ).count(),
    )

    # Round-11 transaction-axis pins: the table now carries closed
    # history, but (a) a CURRENT-slice full read opens ZERO
    # closed-cluster files (every closed row closed at-or-before
    # slice3 — max until_ts pruning), and (b) an AS-OF read at slice1
    # opens none of the open-cluster files the revision wrote
    # (min from_ts pruning) while the closed-history files still
    # answer it.
    man3 = store._manifest_of(tid, store._current_version(tid))
    cur_files = store.get_table(tid, slice3).inputFiles()
    n_closed_files = len(
        {r for fs in man3["months"].values() for r in fs if "__vc=c" in r}
    )
    assert n_closed_files > 0, "revision produced no closed files"
    assert not any("__vc=c" in f for f in cur_files), (
        "current-slice read opened closed-history files"
    )
    out["history_files_total"] = n_closed_files
    out["history_files_read_current"] = 0
    asof = store.get_table(tid, slice1)
    asof_files = asof.inputFiles()
    asof_june = {
        f.split("__vc=")[1].split("/")[0]
        for f in asof_files
        if "__vm=2020-06" in f
    }
    # June at slice1 is answered ONLY by the closed-history cluster:
    # the revision's open cluster (min from_ts = slice3) is dropped
    # on the from axis at the manifest
    assert asof_june == {"c"}, asof_june
    # and the as-of values are the PRE-revision ones
    pre = (
        asof.where(
            (F.col("valid_from") >= F.lit(D(2020, 6, 1)))
            & (F.col("valid_from") <= F.lit(D(2020, 6, 30)))
        )
        .agg(F.max("n_active"))
        .first()[0]
    )
    post = (
        store.get_table(tid, slice3)
        .where(
            (F.col("valid_from") >= F.lit(D(2020, 6, 1)))
            & (F.col("valid_from") <= F.lit(D(2020, 6, 30)))
        )
        .agg(F.max("n_active"))
        .first()[0]
    )
    assert pre == 5.0 and post == 15.0, (pre, post)

    # Lower-bound pruning pin (round 10): a one-month window ALSO
    # drops the closed history months at the manifest via the
    # write-time validity stats — activity spans are <= 14 days, so
    # months through April can never overlap a June window; only
    # May + June files may reach the scanner.
    narrow = timed(
        "narrow_window_read_s",
        lambda: ds2.get_feature(
            "n_active", D(2020, 6, 1), D(2020, 6, 30)
        ),
    )
    out["narrow_window_rows"] = narrow.count()
    months_read = {
        f.split("__vm=")[1].split("/")[0] for f in narrow.inputFiles()
    }
    assert months_read <= {"2020-05", "2020-06"}, months_read
    out["narrow_window_months_read"] = sorted(months_read)

    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
