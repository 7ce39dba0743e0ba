"""SCD2 merge at sf1-scale feature frames: measure update_snapshot on
a 12M-row, 24-month table and prove the range-scoped merge is
O(touched months), not O(table).

Three timed phases:

1. initial write  — 12M rows across 24 months (the bulk load);
2. scoped merge   — a revised snapshot of ONE month (~500k rows) with
   ``written_range`` declared: the merge must compare only months at
   or before the range end, carry the 18 later months forward by
   MANIFEST REFERENCE (zero data I/O), and rewrite only the touched
   months;
3. unscoped merge — the same logical change submitted as a full
   24-month snapshot (written_range=None): the honest baseline the
   scoped path is measured against.

Also verifies (hard facts, not timings): after the scoped merge every
untouched month's manifest entry is the SAME file reference list as
the previous version's (zero bytes rewritten), and the changed
month's is not. Each timed phase runs in a trace scope
(``diseasystore_spark.trace``); ``<phase>_phases`` maps each engine
phase path under it to its summed wall seconds and Spark jobs.

Usage: python scripts/bench_scd2_merge.py [rows] [out_json]
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from diseasystore_spark import trace  # noqa: E402

T = datetime.datetime
D = datetime.date


def month_refs(store, tid: str, version: int) -> dict[str, set[str]]:
    manifest = store._manifest_of(tid, version)
    return {m: set(fs) for m, fs in manifest["months"].items()}


def phases(records: list[trace.Record]) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in records:
        wall, jobs = out.get(r.path, (0.0, 0))
        out[r.path] = [round(wall + r.wall_s, 2), jobs + r.jobs]
    return out


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 12_000_000
    from diseasystore_spark.session import get_spark
    from diseasystore_spark.storage.scd2 import ParquetFeatureStore

    spark = get_spark("scd2-merge-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

    root = tempfile.mkdtemp(prefix="scd2_merge_bench_")
    store = ParquetFeatureStore(spark, root, partition_granularity="month")
    tid = "bench.features"

    # 12M rows over 24 months (2020-01 .. 2021-12), validity inside
    # the month so a scoped merge's close-candidate row-group skip
    # (valid_until sort) applies, as in the engine's real frames.
    def frame(bump_month: int | None):
        base = spark.range(n_rows).select(
            F.col("id").alias("__i"),
            F.concat(F.lit("k"), F.col("id")).alias("key_id"),
            (F.col("id") % 24).alias("__m"),
            (F.col("id") % 28 + 1).alias("__d"),
        )
        v = F.when(
            F.col("__m") == bump_month, F.col("__i") * 2.0 + 1.0
        ).otherwise(F.col("__i") * 1.0) if bump_month is not None else (
            F.col("__i") * 1.0
        )
        return base.select(
            "key_id",
            v.alias("value"),
            F.make_date(
                F.lit(2020) + (F.col("__m") / 12).cast("int"),
                F.col("__m") % 12 + 1,
                F.col("__d"),
            ).alias("valid_from"),
        ).withColumn(
            "valid_until", F.date_add(F.col("valid_from"), 2)
        )

    out: dict[str, object] = {"rows": n_rows, "months": 24}

    with trace.collect() as records:
        t0 = time.perf_counter()
        store.update_snapshot(frame(None), tid, T(2024, 1, 1))
        out["initial_write_s"] = round(time.perf_counter() - t0, 2)
    out["initial_write_phases"] = phases(records)
    v1_refs = month_refs(store, tid, 1)

    # scoped: June 2020 (__m == 5) rows revised. The written_range
    # contract mirrors the engine's study-period writes: ``data`` is
    # the complete snapshot of every month at-or-before the range end
    # (here months 1-6 of 24), and the merge may not scan anything
    # later. Months 1-5 are checksum-identical, so only June's
    # partition may be rewritten; months 7-24 must be carried forward
    # by reference without being read at all.
    june = frame(5).where(F.col("valid_from") <= F.lit(D(2020, 6, 30)))
    with trace.collect() as records:
        t0 = time.perf_counter()
        store.update_snapshot(
            june, tid, T(2024, 2, 1),
            written_range=(D(2020, 1, 1), D(2020, 6, 30)),
        )
        out["scoped_merge_s"] = round(time.perf_counter() - t0, 2)
    out["scoped_merge_phases"] = phases(records)
    v2_refs = month_refs(store, tid, 2)

    untouched = [m for m in v1_refs if m != "2020-06"]
    carried = [m for m in untouched if v2_refs[m] == v1_refs[m]]
    out["untouched_months"] = len(untouched)
    out["referenced_months"] = len(carried)
    assert len(carried) == len(untouched), (
        f"scoped merge rewrote untouched months: "
        f"{sorted(set(untouched) - set(carried))}"
    )
    assert v2_refs["2020-06"] != v1_refs["2020-06"]

    # unscoped: the same change shape as a full-table snapshot
    with trace.collect() as records:
        t0 = time.perf_counter()
        store.update_snapshot(frame(11), tid, T(2024, 3, 1))
        out["unscoped_merge_s"] = round(time.perf_counter() - t0, 2)
    out["unscoped_merge_phases"] = phases(records)

    out["scoped_speedup"] = round(
        out["unscoped_merge_s"] / out["scoped_merge_s"], 2
    )
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
