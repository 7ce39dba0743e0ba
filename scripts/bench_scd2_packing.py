"""Packed vs per-month SCD2 rewrites: what a small month-scoped
rewrite costs in each layout, and what the layout costs its readers.

For each base size R (rows spread evenly over M months, one cold
write at t1), time on a month-partitioned store:

- ``update_all_s``: an update changing every row in every month at t2
  (a rewrite of 2R rows: R closed + R inserted — the shape of the
  feature-store benchmark's revisions);
- ``read_month_s``: a one-month study-period read at t2 (manifest
  pruning + the half-open overlap clip, as ``get_feature`` reads),
  median of ``--reads`` runs, and ``read_files``, the files it opens;
- ``rev1_s``, ``rev2_s``: two one-month ``written_range`` revisions
  (the engine's usual ``_compute_and_store_range`` write) of two
  different months at t3 and t4;
- ``read_month_after_s``: the same one-month read at t4.

``refs_t2``/``refs_t4`` count the distinct data files of those
versions. ``--pack-max-rows`` takes a comma list of packing thresholds
(0 = always per-month); each repetition runs every size under every
threshold, in alternating order, so both layouts are timed in one
JVM. A checkout without the threshold runs its own layout whatever
the list says. Run against another checkout with ``--repo PATH``;
``--compare-to PATH`` adds that checkout's ``storage/scd2.py`` as one
more variant (``other``), loaded beside this one, so two versions of
the store alternate in the same JVM and host drift cancels out.

Emits one JSON line per (size, variant): the median of each timing
over ``--reps`` repetitions (and, under ``<timing>_runs``, each
repetition's value, in repetition order, for pairing), after one
untimed warm-up scenario.

Usage: python scripts/bench_scd2_packing.py [--rows 2500,10000,25000,50000]
       [--months 24] [--reps 3] [--reads 5] [--pack-max-rows 50000,0]
       [--repo PATH] [--compare-to PATH]
"""

from __future__ import annotations

import argparse
import datetime
import gc
import importlib.util
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T = datetime.datetime
D = datetime.date
TIMINGS = (
    "cold_s", "update_all_s", "read_month_s", "rev1_s", "rev2_s",
    "read_month_after_s",
)


def month_start(m: int) -> D:
    return D(2020 + m // 12, m % 12 + 1, 1)


def month_end(m: int) -> D:
    return month_start(m + 1) - datetime.timedelta(days=1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", default="2500,10000,25000,50000")
    ap.add_argument("--months", type=int, default=24)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--reads", type=int, default=5)
    ap.add_argument("--pack-max-rows", default="50000,0")
    ap.add_argument(
        "--repo", default=str(Path(__file__).resolve().parents[1])
    )
    ap.add_argument("--compare-to", default=None)
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    from pyspark.sql import functions as F

    from diseasystore_spark.session import get_spark
    from diseasystore_spark.storage.scd2 import ParquetFeatureStore

    stores = {}
    if args.compare_to:
        spec = importlib.util.spec_from_file_location(
            "scd2_other",
            Path(args.compare_to) / "diseasystore_spark/storage/scd2.py",
        )
        other = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(other)
        stores["other"] = other.ParquetFeatureStore
    spark = get_spark("scd2-packing-bench", cpus=4)
    months = args.months
    has_knob = hasattr(ParquetFeatureStore, "_PACK_MAX_ROWS")

    def frame(n_rows: int, bump: float, only_month: int | None = None):
        df = spark.range(n_rows).select(
            F.concat(F.lit("k"), F.col("id")).alias("key_id"),
            (F.col("id") * 1.0 + bump).alias("value"),
            (F.col("id") % months).alias("__m"),
            (F.col("id") % 28 + 1).alias("__d"),
        )
        if only_month is not None:
            df = df.where(F.col("__m") == only_month)
        return df.select(
            "key_id",
            "value",
            F.make_date(
                F.lit(2020) + (F.col("__m") / 12).cast("int"),
                F.col("__m") % 12 + 1,
                F.col("__d"),
            ).alias("valid_from"),
        ).withColumn("valid_until", F.date_add("valid_from", 2))

    def timed(fn):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def scenario(n_rows: int, variant: str) -> dict:
        cls = stores.get(variant, ParquetFeatureStore)
        if variant not in stores and has_knob:
            cls._PACK_MAX_ROWS = int(variant)
        root = tempfile.mkdtemp(prefix="scd2_packing_bench_")
        store = cls(spark, root, partition_granularity="month")
        tid = "bench.features"

        def refs() -> int:
            man = store._manifest_of(tid, store._current_version(tid))
            return len({r for fs in man["months"].values() for r in fs})

        m_read = months // 2
        lo, hi = month_start(m_read), month_end(m_read)

        def read_month(ts):
            df = store.get_table(
                tid, ts, max_valid_from=hi, min_valid_until=lo
            )
            clipped = df.where(
                (F.col("valid_from") <= F.lit(hi))
                & (
                    F.col("valid_until").isNull()
                    | (F.col("valid_until") > F.lit(lo))
                )
            )
            s = statistics.median(
                timed(clipped.collect) for _ in range(args.reads)
            )
            return s, len(df.inputFiles())

        def revise(ts, m, bump):
            store.update_snapshot(
                frame(n_rows, bump, only_month=m),
                tid,
                ts,
                written_range=(month_start(m), month_end(m)),
            )

        t1, t2, t3, t4 = (T(2024, 1, d) for d in (1, 2, 3, 4))
        out = {"rows": n_rows, "variant": variant}
        out["cold_s"] = timed(
            lambda: store.update_snapshot(frame(n_rows, 0.0), tid, t1)
        )
        out["update_all_s"] = timed(
            lambda: store.update_snapshot(frame(n_rows, 1.0), tid, t2)
        )
        out["refs_t2"] = refs()
        out["read_month_s"], out["read_files"] = read_month(t2)
        out["rev1_s"] = timed(lambda: revise(t3, 5 % months, 2.0))
        out["rev2_s"] = timed(lambda: revise(t4, 17 % months, 3.0))
        out["refs_t4"] = refs()
        out["read_month_after_s"], out["read_after_files"] = read_month(t4)
        shutil.rmtree(root, ignore_errors=True)
        return out

    sizes = [int(r) for r in args.rows.split(",")]
    variants = args.pack_max_rows.split(",") + list(stores)
    scenario(sizes[0], variants[0])  # warm-up: JIT, caches
    runs: dict[tuple[int, str], list[dict]] = {}
    for rep in range(args.reps):
        order = variants if rep % 2 == 0 else variants[::-1]
        for n_rows in sizes:
            for v in order:
                runs.setdefault((n_rows, v), []).append(scenario(n_rows, v))
    for (n_rows, v), rs in runs.items():
        row = dict(rs[-1])
        for k in TIMINGS:
            row[k] = round(statistics.median(r[k] for r in rs), 4)
            row[k + "_runs"] = [round(r[k], 3) for r in rs]
        row["reps"] = len(rs)
        row["has_threshold"] = has_knob
        print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
