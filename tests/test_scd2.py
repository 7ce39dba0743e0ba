"""SCD2 storage merge semantics: open/close/keep, slice isolation,
backfill (non-chronological) writes, version GC."""

from __future__ import annotations

import datetime

from diseasystore_spark.storage.scd2 import ParquetFeatureStore, normalize_slice_ts

T = datetime.datetime
D = datetime.date


def _df(spark, rows):
    return spark.createDataFrame(rows, "key_id string, v double")


def test_open_close_keep(spark, store_root):
    be = ParquetFeatureStore(spark, store_root)
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)

    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 2.0)]), "ds.t", t1)
    snap1 = {r["key_id"]: r["v"] for r in be.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "b": 2.0}

    # b changes value, c appears, a unchanged
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 9.0), ("c", 3.0)]), "ds.t", t2)
    snap2 = {r["key_id"]: r["v"] for r in be.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "b": 9.0, "c": 3.0}
    # slice isolation: t1 still sees the old world
    snap1_again = {r["key_id"]: r["v"] for r in be.get_table("ds.t", t1).collect()}
    assert snap1_again == {"a": 1.0, "b": 2.0}


def test_row_deletion_closes(spark, store_root):
    be = ParquetFeatureStore(spark, store_root)
    t1, t2, t3 = T(2024, 1, 1), T(2024, 1, 2), T(2024, 1, 3)
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 2.0)]), "ds.t", t1)
    be.update_snapshot(_df(spark, [("a", 1.0)]), "ds.t", t2)
    assert {r["key_id"] for r in be.get_table("ds.t", t2).collect()} == {"a"}
    # reappearing row re-opens at t3
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 2.0)]), "ds.t", t3)
    assert {r["key_id"] for r in be.get_table("ds.t", t3).collect()} == {"a", "b"}
    raw = be.read_raw("ds.t")
    b_rows = raw.where(raw["key_id"] == "b").collect()
    assert len(b_rows) == 2  # closed interval + reopened interval


def test_backfill_earlier_slice(spark, store_root):
    """enforce_chronological_order=FALSE semantics: a write at an
    earlier slice_ts affects that slice without disturbing later ones."""
    be = ParquetFeatureStore(spark, store_root)
    t1, t2 = T(2024, 1, 1), T(2024, 2, 1)
    be.update_snapshot(_df(spark, [("a", 1.0)]), "ds.t", t2)
    be.update_snapshot(_df(spark, [("z", 9.0)]), "ds.t", t1)  # backfill
    assert {r["key_id"] for r in be.get_table("ds.t", t1).collect()} == {"z"}
    later = {r["key_id"] for r in be.get_table("ds.t", t2).collect()}
    assert "a" in later


def test_version_gc_keeps_two(spark, store_root):
    import os

    be = ParquetFeatureStore(spark, store_root)
    for i in range(4):
        be.update_snapshot(
            _df(spark, [("a", float(i))]), "ds.t", T(2024, 1, 1 + i)
        )
    tdir = os.path.join(store_root, "ds", "t")
    versions = sorted(
        int(e[2:].split("-", 1)[0])
        for e in os.listdir(tdir)
        if e.startswith("_v")
    )
    assert versions == [3, 4]
    # commit markers are GC'd alongside (keep-2)
    markers = sorted(os.listdir(os.path.join(tdir, "_commits")))
    assert markers == ["3.json", "4.json"]


def test_normalize_slice_ts():
    assert normalize_slice_ts("2024-01-02") == T(2024, 1, 2)
    assert normalize_slice_ts("2024-01-02 09:30:00") == T(2024, 1, 2, 9, 30)
    assert normalize_slice_ts(D(2024, 1, 2)) == T(2024, 1, 2)
    assert normalize_slice_ts(T(2024, 1, 2, 5)) == T(2024, 1, 2, 5)


def test_fuzzy_date_match():
    from diseasystore_spark.sources.helpers import fuzzy_date_match

    files = [
        "2023-10-20_ILIARIRates.csv",
        "2023-10-27_ILIARIRates.csv",
        "2023-11-03_ILIARIRates.csv",
        "2023-10-25_Other.csv",
    ]
    pattern = r"[0-9]{4}-[0-9]{2}-[0-9]{2}_ILIARIRates\.csv"
    assert (
        fuzzy_date_match(files, D(2023, 10, 28), pattern)
        == "2023-10-27_ILIARIRates.csv"
    )
    assert (
        fuzzy_date_match(files, D(2023, 10, 27), pattern)
        == "2023-10-27_ILIARIRates.csv"
    )
    assert fuzzy_date_match(files, D(2023, 10, 1), pattern) is None


def test_source_conn_path(tmp_path):
    from diseasystore_spark.sources.helpers import source_conn_path

    (tmp_path / "by-age.csv.gz").write_text("x")
    assert source_conn_path(str(tmp_path), "by-age.csv").endswith("by-age.csv.gz")
    assert (
        source_conn_path("https://example.com/data/", "f.csv")
        == "https://example.com/data/f.csv"
    )


def test_append_only_merge_never_closes(spark, store_root, tmp_path):
    """close_absent=False: successive incremental batches accumulate;
    absence never closes; replay inserts nothing (no version bump)."""
    for gran, root in ((None, store_root), ("month", str(tmp_path / "pm"))):
        be = ParquetFeatureStore(spark, root, partition_granularity=gran)
        t1, t2 = T(2024, 1, 1), T(2024, 2, 2)
        df1 = spark.createDataFrame(
            [("a", 1.0, D(2024, 1, 1)), ("b", 2.0, D(2024, 1, 5))],
            "key_id string, v double, valid_from date",
        )
        df2 = spark.createDataFrame(
            [("c", 3.0, D(2024, 2, 1))],
            "key_id string, v double, valid_from date",
        )
        be.update_snapshot(df1, "ds.t", t1, close_absent=False)
        be.update_snapshot(df2, "ds.t", t2, close_absent=False)
        snap = {r["key_id"] for r in be.get_table("ds.t", t2).collect()}
        assert snap == {"a", "b", "c"}, gran
        # earlier slice sees only batch 1
        assert {
            r["key_id"] for r in be.get_table("ds.t", t1).collect()
        } == {"a", "b"}, gran
        # replayed batch is a no-op: no new version
        v = be._current_version("ds.t")
        be.update_snapshot(df2, "ds.t", t2, close_absent=False)
        assert be._current_version("ds.t") == v, gran
        assert be.read_raw("ds.t").where("until_ts IS NOT NULL").count() == 0


def test_schema_mismatch_fails_loud(spark, store_root):
    import pytest

    be = ParquetFeatureStore(spark, store_root)
    be.update_snapshot(_df(spark, [("a", 1.0)]), "ds.t", T(2024, 1, 1))
    wide = spark.createDataFrame(
        [("a", 1.0, "x")], "key_id string, v double, note string"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        be.update_snapshot(wide, "ds.t", T(2024, 1, 2))
    narrow = spark.createDataFrame([("a",)], "key_id string")
    with pytest.raises(ValueError, match="schema mismatch"):
        be.update_snapshot(narrow, "ds.t", T(2024, 1, 2))


def test_schema_evolution_preserves_identity(spark, store_root):
    """Widening with a NULL-valued new column must NOT close/reopen
    unchanged rows (the identity-preserving checksum rewrite); a row
    with a real value in the new column is a genuine change."""
    be = ParquetFeatureStore(spark, store_root)
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 2.0)]), "ds.t", t1)

    wide = spark.createDataFrame(
        [("a", 1.0, None), ("b", 2.0, "flagged")],
        "key_id string, v double, note string",
    )
    be.update_snapshot(wide, "ds.t", t2, allow_schema_evolution=True)

    snap2 = {r["key_id"]: (r["v"], r["note"])
             for r in be.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": (1.0, None), "b": (2.0, "flagged")}
    raw = be.read_raw("ds.t")
    # a: unchanged identity -> single interval still open since t1
    a_rows = raw.where(raw["key_id"] == "a").collect()
    assert len(a_rows) == 1
    assert a_rows[0]["from_ts"] == t1 and a_rows[0]["until_ts"] is None
    # b: value-bearing new column -> closed at t2 + reopened
    b_rows = sorted(
        raw.where(raw["key_id"] == "b").collect(),
        key=lambda r: (r["until_ts"] is None, r["from_ts"]),
    )
    assert len(b_rows) == 2
    assert b_rows[0]["until_ts"] == t2 and b_rows[1]["from_ts"] == t2
    # slice isolation: the pre-evolution world reads with a NULL column
    snap1 = {r["key_id"]: (r["v"], r["note"])
             for r in be.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": (1.0, None), "b": (2.0, None)}


def test_schema_evolution_backfills_missing_incoming(spark, store_root):
    """After evolution, a producer still writing the OLD schema gets
    NULL backfill — unchanged rows keep identity."""
    be = ParquetFeatureStore(spark, store_root)
    t1, t2, t3 = T(2024, 1, 1), T(2024, 1, 2), T(2024, 1, 3)
    be.update_snapshot(_df(spark, [("a", 1.0)]), "ds.t", t1)
    wide = spark.createDataFrame(
        [("a", 1.0, None)], "key_id string, v double, note string"
    )
    be.update_snapshot(wide, "ds.t", t2, allow_schema_evolution=True)
    # old-schema producer at t3
    be.update_snapshot(
        _df(spark, [("a", 1.0)]), "ds.t", t3, allow_schema_evolution=True
    )
    a_rows = be.read_raw("ds.t").where("key_id = 'a'").collect()
    assert len(a_rows) == 1 and a_rows[0]["until_ts"] is None


def test_schema_evolution_partitioned(spark, store_root):
    """Evolution on the month-partitioned layout: full rewrite once,
    partition-pruned merges resume afterwards."""
    be = ParquetFeatureStore(spark, store_root, partition_granularity="month")
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    rows = spark.createDataFrame(
        [("a", D(2024, 1, 5), D(2024, 3, 1)), ("b", D(2024, 2, 10), None)],
        "key_id string, valid_from date, valid_until date",
    )
    be.update_snapshot(rows, "ds.t", t1)
    wide = rows.selectExpr("key_id", "valid_from", "valid_until",
                           "CAST(NULL AS STRING) AS note")
    be.update_snapshot(wide, "ds.t", t2, allow_schema_evolution=True)
    raw = be.read_raw("ds.t")
    assert raw.where("until_ts IS NOT NULL").count() == 0  # identity kept
    assert "note" in raw.columns


def test_evolve_schema_validates(spark, store_root):
    import pytest

    be = ParquetFeatureStore(spark, store_root)
    be.update_snapshot(_df(spark, [("a", 1.0)]), "ds.t", T(2024, 1, 1))
    with pytest.raises(ValueError, match="already exist"):
        be.evolve_schema("ds.t", {"v": "double"})
    with pytest.raises(ValueError, match="bookkeeping"):
        be.evolve_schema("ds.t", {"from_ts": "timestamp"})


def test_prune_history_retention(spark, store_root):
    """Rows closed before the cutoff are physically dropped; every
    snapshot at/after the cutoff is identical; earlier reads fail
    loud against the recorded retention floor."""
    be = ParquetFeatureStore(spark, store_root)
    t1, t2, t3 = T(2024, 1, 1), T(2024, 2, 1), T(2024, 3, 1)
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 2.0)]), "ds.t", t1)
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 9.0)]), "ds.t", t2)
    be.update_snapshot(_df(spark, [("a", 5.0), ("b", 9.0)]), "ds.t", t3)

    before_t2 = {(r["key_id"], r["v"])
                 for r in be.get_table("ds.t", t2).collect()}
    before_t3 = {(r["key_id"], r["v"])
                 for r in be.get_table("ds.t", t3).collect()}

    dropped = be.prune_history("ds.t", t2)
    # (b, 2.0) closed AT t2 (until_ts <= cutoff -> invisible to every
    # snapshot >= t2); (a, 1.0) closed at t3 survives.
    assert dropped == 1

    after_t2 = {(r["key_id"], r["v"])
                for r in be.get_table("ds.t", t2).collect()}
    after_t3 = {(r["key_id"], r["v"])
                for r in be.get_table("ds.t", t3).collect()}
    assert after_t2 == before_t2 and after_t3 == before_t3

    import pytest

    assert be.retain_floor("ds.t") == t2
    with pytest.raises(ValueError, match="retention floor"):
        be.get_table("ds.t", T(2024, 1, 15))
    # idempotent: nothing further to drop at the same cutoff
    assert be.prune_history("ds.t", t2) == 0


def test_lock_contention_cross_process(store_root, tmp_path):
    """I3 advisory lock across REAL process boundaries: a second
    process holding the lock blocks this one (spin + timeout message
    parity with ``R/DiseasystoreBase.R:145-156``); releasing from the
    other process unblocks acquisition here. The lock layer is pure
    filesystem — no SparkSession involved."""
    import subprocess
    import sys

    import pytest

    code = (
        "from diseasystore_spark.storage.scd2 import ParquetFeatureStore;"
        f"be = ParquetFeatureStore(None, {store_root!r});"
        "import sys; sys.exit(0 if be.try_lock('ds.t') else 1)"
    )
    env_path = "/root/repo"
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=env_path, capture_output=True
    )
    assert r.returncode == 0, r.stderr.decode()

    be = ParquetFeatureStore(None, store_root)
    assert not be.try_lock("ds.t")  # held by the other process
    with pytest.raises(
        TimeoutError, match=r"Lock not released within .* minutes\. Giving up\."
    ):
        be.lock("ds.t", wait_increment=0.05, wait_max=0.15)

    unlock_code = (
        "from diseasystore_spark.storage.scd2 import ParquetFeatureStore;"
        f"ParquetFeatureStore(None, {store_root!r}).unlock('ds.t')"
    )
    r2 = subprocess.run(
        [sys.executable, "-c", unlock_code], cwd=env_path, capture_output=True
    )
    assert r2.returncode == 0, r2.stderr.decode()
    be.lock("ds.t", wait_increment=0.05, wait_max=0.15)  # acquires now
    be.unlock("ds.t")


def test_prune_history_crash_fails_loud(spark, store_root, monkeypatch):
    """The retain floor is persisted BEFORE history is physically
    dropped: a crash mid-prune leaves floor set + data intact
    (fail-loud refusal below the cutoff) — never silently-incomplete
    snapshots with reads still permitted."""
    import pytest

    be = ParquetFeatureStore(spark, store_root)
    t1, t2, t3 = T(2024, 1, 1), T(2024, 2, 1), T(2024, 3, 1)
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 2.0)]), "ds.t", t1)
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 9.0)]), "ds.t", t2)
    be.update_snapshot(_df(spark, [("a", 5.0), ("b", 9.0)]), "ds.t", t3)
    n_before = be.read_raw("ds.t").count()

    def boom(*a, **k):
        raise RuntimeError("simulated crash during prune rewrite")

    monkeypatch.setattr(be, "_write_version", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        be.prune_history("ds.t", t2)

    # Floor recorded (reads below cutoff refuse loudly) ...
    assert be.retain_floor("ds.t") == t2
    with pytest.raises(ValueError, match="retention floor"):
        be.get_table("ds.t", T(2024, 1, 15))
    # ... and NO history was physically dropped.
    assert be.read_raw("ds.t").count() == n_before

    monkeypatch.undo()
    assert be.prune_history("ds.t", t2) == 1


def test_compact_preserves_every_snapshot(spark, store_root):
    """compact() is a pure physical re-layout: a fragmented packed bin
    is re-packed into one file per transaction cluster (not unpacked),
    every slice_ts snapshot is identical before and after, and it is
    written as a new immutable version (old one untouched); a second
    compact is a no-op. It takes no file-count argument."""
    import os

    import pytest

    from diseasystore_spark.storage.scd2 import NULL_MONTH

    # the file-size knob splits every write into one-row files
    be = ParquetFeatureStore(spark, store_root, max_records_per_file=1)
    t1, t2, t3 = T(2024, 1, 1), T(2024, 2, 1), T(2024, 3, 1)
    be.update_snapshot(
        _df(spark, [("a", 1.0), ("b", 2.0)]).repartition(8), "ds.t", t1
    )
    be.update_snapshot(
        _df(spark, [("a", 1.0), ("b", 9.0)]).repartition(8), "ds.t", t2
    )
    be.update_snapshot(
        _df(spark, [("a", 5.0), ("b", 9.0)]).repartition(8), "ds.t", t3
    )
    be.max_records_per_file = None

    def snap(ts):
        return {(r["key_id"], r["v"]) for r in be.get_table("ds.t", ts).collect()}

    before = {ts: snap(ts) for ts in (t1, t2, t3)}
    v_before = be._current_version("ds.t")
    assert len(be._version_files("ds.t", v_before)) == 4

    n_files = be.compact("ds.t")
    assert n_files == 2  # one closed-rows file, one open-rows file
    assert be._current_version("ds.t") == v_before + 1
    months = be._manifest_of("ds.t", v_before + 1)["months"]
    assert list(months) == [NULL_MONTH]  # no valid_from: one bin
    # old version directory untouched (readers mid-flight unaffected)
    assert os.path.isdir(be._version_dir("ds.t", v_before))
    assert {ts: snap(ts) for ts in (t1, t2, t3)} == before

    assert be.compact("ds.t") == n_files
    assert be._current_version("ds.t") == v_before + 1
    with pytest.raises(TypeError):
        be.compact("ds.t", files_per_partition=1)


def test_snapshot_diff_single_scan_semantics(spark, store_root):
    """added/removed derived from transaction intervals: a revision
    is one removed + one added; transient rows (created AND closed
    between the slices) appear in neither; untouched rows absent."""
    import pytest

    be = ParquetFeatureStore(spark, store_root)
    t1, t2, t3, t4 = (
        T(2024, 1, 1), T(2024, 2, 1), T(2024, 3, 1), T(2024, 4, 1)
    )
    be.update_snapshot(_df(spark, [("a", 1.0), ("b", 2.0)]), "ds.t", t1)
    # t2: c appears (transient: gone again by t3), b revised
    be.update_snapshot(
        _df(spark, [("a", 1.0), ("b", 9.0), ("c", 3.0)]), "ds.t", t2
    )
    # t3: c removed, d added
    be.update_snapshot(
        _df(spark, [("a", 1.0), ("b", 9.0), ("d", 4.0)]), "ds.t", t3
    )

    got = {
        (r["key_id"], r["v"], r["change"])
        for r in be.snapshot_diff("ds.t", t1, t3).collect()
    }
    assert got == {
        ("b", 2.0, "removed"),   # revision: old value out...
        ("b", 9.0, "added"),     # ...new value in
        ("d", 4.0, "added"),
        # a untouched -> absent; c transient within (t1, t3] -> absent
    }
    # adjacent slices see the transient
    got2 = {
        (r["key_id"], r["change"])
        for r in be.snapshot_diff("ds.t", t1, t2).collect()
    }
    assert ("c", "added") in got2

    with pytest.raises(ValueError, match="must precede"):
        be.snapshot_diff("ds.t", t3, t1)

    # empty diff between identical worlds
    be.update_snapshot(
        _df(spark, [("a", 1.0), ("b", 9.0), ("d", 4.0)]), "ds.t", t4
    )
    assert be.snapshot_diff("ds.t", t3, t4).count() == 0


def test_snapshot_diff_random_histories_match_set_diff(spark, tmp_path):
    """Randomized: for arbitrary snapshot histories (adds, deletes,
    revisions, reappearing keys), snapshot_diff between EVERY slice
    pair must equal the brute-force set difference of the two
    get_table reads."""
    import random

    rng = random.Random(77)
    keys = [f"k{i}" for i in range(8)]
    for scenario in range(4):
        be = ParquetFeatureStore(
            spark, str(tmp_path / f"sd{scenario}")
        )
        slices = [T(2024, 1, 1 + i) for i in range(4)]
        worlds = []
        for ts in slices:
            world = {
                k: float(rng.randrange(3))
                for k in keys
                if rng.random() < 0.7
            }
            worlds.append(world)
            be.update_snapshot(
                _df(spark, list(world.items()) or [("sentinel", 0.0)]),
                "ds.t",
                ts,
            )
        # sentinel guard: empty worlds get a placeholder row
        for i in range(len(slices)):
            for j in range(i + 1, len(slices)):
                a = {
                    (r["key_id"], r["v"])
                    for r in be.get_table("ds.t", slices[i]).collect()
                }
                b = {
                    (r["key_id"], r["v"])
                    for r in be.get_table("ds.t", slices[j]).collect()
                }
                want = {(k, v, "added") for (k, v) in b - a} | {
                    (k, v, "removed") for (k, v) in a - b
                }
                got = {
                    (r["key_id"], r["v"], r["change"])
                    for r in be.snapshot_diff(
                        "ds.t", slices[i], slices[j]
                    ).collect()
                }
                assert got == want, (scenario, i, j)


def test_row_checksum_values_are_pinned(spark):
    """Stored checksums are merge identity: a row must keep its
    checksum across releases, or the next merge closes and reopens
    every stored row. These values were computed by the Column-built
    expression ``sha2(concat_ws("\\x1f", coalesce(cast(c as string),
    "\\x00<NULL>"), ...), 256)``; NULLs, dates, doubles, and strings
    holding the separator or the NULL marker are covered."""
    from diseasystore_spark.storage.scd2 import row_checksum

    rows = [
        ("a", 1.5, D(2020, 1, 10), None),
        (None, None, None, None),
        ("x\x1fy", -0.0, D(1999, 12, 31), D(2000, 1, 1)),
        ("nul\x00<NULL>", 1e-7, None, D(2020, 2, 29)),
        ("\x00<NULL>", 123456789.125, D(2020, 3, 1), None),
    ]
    df = spark.createDataFrame(
        rows, "key_id string, n_x double, valid_from date, valid_until date"
    )
    got = [r["c"] for r in df.select(row_checksum(df.columns).alias("c")).collect()]
    assert got == [
        "8cd0ec4247c27aac9e940973c6601cc6f19f5c749731dd068193eb632a70a284",
        "e18774307c64dff45e846456bb97afa0ddabb251528ab56c86d7e44482f4a1c2",
        "e7c579c9b2bc1f09cfd3e4252917dcc73227bdb3b5f70a25c11e3f301407d838",
        "713d49ef704c53f15b67c1d09176a8d9361760cd9fbf15986c82b9d330b095c1",
        "e2e9aba4977fdd10008bc541a32b5a9da01c425eb6e91a8a7691181560385b78",
    ]
