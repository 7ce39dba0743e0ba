"""Manifest GC under version churn: run N sequential one-month
revisions against a month-partitioned table and prove disk usage is
BOUNDED — the file-level keep-2 GC deletes exactly the files no
retained manifest references, so the table's footprint converges to
~(live data + one superseded version's changed months), not N
versions of history.

Hard facts asserted per revision:

- every file on disk under the table dir is referenced by one of the
  two retained manifests OR is a control object (_commits content
  lives on the commit backend, not counted);
- the snapshot at every revision's slice_ts still reads the full,
  correct row set (spot-checked at the end for first/middle/last);
- byte growth across revisions is exactly the SCD2 HISTORY the
  store promises to keep (closed intervals), not GC leakage — and
  ``prune_history`` at the last slice collapses it back to ~one
  generation (the retention tool doing its job).

Emits one JSON line:
    {"versions": N, "months": M, "rows": R,
     "bytes_min": ..., "bytes_max": ..., "history_growth": max/min,
     "bytes_after_prune": ..., "prune_ratio": ..., "files_final": ...}

Usage: python scripts/stress_manifest_gc.py [n_versions] [rows]
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import tempfile
import time  # noqa: F401
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

T = datetime.datetime
D = datetime.date


def table_bytes_and_files(tdir: str) -> tuple[int, int]:
    total, n = 0, 0
    for root, _dirs, files in os.walk(tdir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


def main() -> None:
    n_versions = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    months = 12

    from diseasystore_spark.session import get_spark
    from diseasystore_spark.storage.scd2 import ParquetFeatureStore

    spark = get_spark("manifest-gc-stress")
    root = tempfile.mkdtemp(prefix="gc_stress_")
    store = ParquetFeatureStore(spark, root, partition_granularity="month")
    tid = "bench.churn"
    tdir = store._table_dir(tid)

    def frame(rev: int):
        base = spark.range(n_rows).select(
            F.col("id").alias("__i"),
            F.concat(F.lit("k"), F.col("id")).alias("key_id"),
            (F.col("id") % months).alias("__m"),
            (F.col("id") % 28 + 1).alias("__d"),
        )
        # each revision bumps the values of ONE month (rev % months)
        v = F.when(
            F.col("__m") == rev % months,
            F.col("__i") * 1.0 + rev,
        ).otherwise(F.col("__i") * 1.0)
        return base.select(
            "key_id",
            v.alias("value"),
            F.make_date(
                F.lit(2020), F.col("__m") + 1, F.col("__d")
            ).alias("valid_from"),
        ).withColumn("valid_until", F.date_add("valid_from", 3))

    slices = [T(2024, 1, 1) + datetime.timedelta(days=i) for i in range(n_versions)]
    sizes = []
    for rev, ts in enumerate(slices):
        store.update_snapshot(frame(rev), tid, ts)
        b, nf = table_bytes_and_files(tdir)
        sizes.append(b)
        # invariant: every parquet file on disk is referenced by a
        # retained manifest (keep-2) — nothing leaks, nothing dangles
        cur = store._current_version(tid)
        live = set()
        for v in (cur, cur - 1):
            m = store._manifest_of(tid, v)
            if m:
                live.update(
                    os.path.join(tdir, r) for r in store._manifest_refs(m)
                )
                # one stats record per referenced file, nothing else
                assert set(m["file_stats"]) == set(
                    store._manifest_refs(m)
                ), f"rev {rev}: file_stats out of step with the manifest"
        on_disk = set()
        for r, _dirs, files in os.walk(tdir):
            for f in files:
                if not f.startswith("."):
                    p = os.path.join(r, f)
                    if "_commits" not in p:
                        on_disk.add(p)
        dangling = {p for p in live if not os.path.exists(p)}
        leaked = on_disk - live
        assert not dangling, f"rev {rev}: dangling refs {sorted(dangling)[:3]}"
        assert not leaked, f"rev {rev}: leaked files {sorted(leaked)[:3]}"

    # snapshots still correct at first / middle / last slice
    for rev in (0, n_versions // 2, n_versions - 1):
        got = (
            store.get_table(tid, slices[rev])
            .agg(F.count(F.lit(1)), F.sum("value"))
            .first()
        )
        assert got[0] == n_rows, (rev, got[0])

    def live_bytes() -> int:
        cur = store._current_version(tid)
        m = store._manifest_of(tid, cur)
        return sum(
            os.path.getsize(os.path.join(tdir, r))
            for r in store._manifest_refs(m)
        )

    live_before_prune = live_bytes()
    # retention: drop history invisible to snapshots >= the last
    # slice; the LIVE version's bytes must collapse back toward one
    # generation (on-disk total lags one commit behind — keep-2
    # retains the pre-prune version until the next write's GC)
    store.prune_history(tid, slices[-1])
    bytes_after = live_bytes()
    _tot, files_final = table_bytes_and_files(tdir)
    got = (
        store.get_table(tid, slices[-1]).agg(F.count(F.lit(1))).first()
    )
    assert got[0] == n_rows
    out = {
        "versions": n_versions,
        "months": months,
        "rows": n_rows,
        "bytes_min": min(sizes),
        "bytes_max": max(sizes),
        "history_growth": round(max(sizes) / min(sizes), 2),
        "live_bytes_before_prune": live_before_prune,
        "live_bytes_after_prune": bytes_after,
        "prune_ratio": round(live_before_prune / bytes_after, 2),
        "files_final": files_final,
    }
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
