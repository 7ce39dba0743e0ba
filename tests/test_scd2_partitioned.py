"""Month-partitioned SCD2 layout: same merge semantics, pruned
rewrites, unchanged partitions carried forward by MANIFEST REFERENCE
(no links, no copies — a commit costs O(changed months))."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from diseasystore_spark.storage.scd2 import PARTITION_COL, ParquetFeatureStore

T = datetime.datetime
D = datetime.date


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "key_id string, v double, valid_from date, valid_until date"
    )


@pytest.fixture(params=["local", "memory"])
def pstore(request, spark, tmp_path):
    """The whole partitioned-manifest suite (reference carry, scoped
    merges, file-level GC, partial compaction) runs over BOTH commit
    backends — green over the in-memory object-store double proves
    the manifest lifecycle needs no filesystem primitive."""
    from diseasystore_spark.storage.backends import MemoryCommitBackend

    root = str(tmp_path / "pstore")
    kw = {}
    if request.param == "memory":
        kw["commit_backend"] = MemoryCommitBackend.shared(root)
    return ParquetFeatureStore(
        spark, root, partition_granularity="month", **kw
    )


ROWS_V1 = [
    ("a", 1.0, D(2020, 1, 10), D(2020, 1, 20)),
    ("b", 2.0, D(2020, 2, 10), D(2020, 2, 20)),
    ("c", 3.0, D(2020, 3, 10), None),
]


def test_partitioned_layout_and_semantics(spark, pstore, monkeypatch):
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    m1 = pstore._manifest_of("ds.t", 1)["months"]
    assert sorted(m1) == ["2020-01", "2020-02", "2020-03"]
    tdir = pstore._version_dir("ds.t", 1)
    parts = sorted(e for e in os.listdir(tdir) if e.startswith(PARTITION_COL))
    assert parts == [
        f"{PARTITION_COL}=2020-01",
        f"{PARTITION_COL}=2020-02",
        f"{PARTITION_COL}=2020-03",
    ]
    snap = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap == {"a": 1.0, "b": 2.0, "c": 3.0}

    # change only the February row -> only 2020-02 is rewritten
    rows_v2 = [
        ("a", 1.0, D(2020, 1, 10), D(2020, 1, 20)),
        ("b", 9.0, D(2020, 2, 10), D(2020, 2, 20)),
        ("c", 3.0, D(2020, 3, 10), None),
    ]
    pstore.update_snapshot(_df(spark, rows_v2), "ds.t", t2)
    m2 = pstore._manifest_of("ds.t", 2)["months"]

    # January and March are carried forward by REFERENCE: the v2
    # manifest repeats v1's exact file entries (which live in v1's
    # segment directory — no link, no copy, no I/O)
    assert m2["2020-01"] == m1["2020-01"]
    assert m2["2020-03"] == m1["2020-03"]
    v1_dirname = pstore._manifest_of("ds.t", 1)["dir"]
    assert all(f.startswith(v1_dirname + "/") for f in m2["2020-01"])
    # February was rewritten into v2's own segment
    assert set(m2["2020-02"]).isdisjoint(m1["2020-02"])
    v2_dirname = pstore._manifest_of("ds.t", 2)["dir"]
    assert all(f.startswith(v2_dirname + "/") for f in m2["2020-02"])

    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "b": 9.0, "c": 3.0}
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "b": 2.0, "c": 3.0}


def test_noop_merge_skips_version(spark, pstore):
    t1 = T(2024, 1, 1)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    assert pstore._current_version("ds.t") == 1
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    assert pstore._current_version("ds.t") == 1  # nothing changed


def test_partition_pruned_snapshot_read(spark, pstore, monkeypatch):
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t1 = T(2024, 1, 1)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    pruned = pstore.get_table("ds.t", t1, max_valid_from=D(2020, 2, 28))
    assert {r["key_id"] for r in pruned.collect()} == {"a", "b"}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "2020-03" not in plan or "PartitionFilters" in plan


def test_partitioned_survives_gc(spark, pstore):
    """Manifest references keep shared files alive when old versions
    are GC'd (file-level GC deletes only unreferenced files)."""
    ts = [T(2024, 1, i + 1) for i in range(4)]
    rows = ROWS_V1
    pstore.update_snapshot(_df(spark, rows), "ds.t", ts[0])
    for i, newv in enumerate([4.0, 5.0, 6.0]):
        rows = [("a", newv, D(2020, 1, 10), D(2020, 1, 20))] + rows[1:]
        pstore.update_snapshot(_df(spark, rows), "ds.t", ts[i + 1])
    # v1, v2 GC'd; current still reads all three keys at the last slice
    snap = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", ts[3]).collect()}
    assert snap == {"a": 6.0, "b": 2.0, "c": 3.0}


def test_file_level_gc_keeps_shared_files_deletes_dead_ones(
    spark, pstore, monkeypatch
):
    """The GC unit is the FILE, not the version directory: when v1's
    marker falls out of keep-2, v1's rewritten-month files die but its
    never-rewritten months' files — still referenced by the current
    manifest — must survive in place. (A directory-granularity GC
    would corrupt every carried-forward reference.)"""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    ts = [T(2024, 1, i + 1) for i in range(4)]
    rows = ROWS_V1
    pstore.update_snapshot(_df(spark, rows), "ds.t", ts[0])  # v1
    m1 = pstore._manifest_of("ds.t", 1)["months"]
    tdir = pstore._table_dir("ds.t")
    jan_v1 = [os.path.join(tdir, f) for f in m1["2020-01"]]
    mar_v1 = [os.path.join(tdir, f) for f in m1["2020-03"]]

    # revise January three times; March is never touched again
    for i, newv in enumerate([4.0, 5.0, 6.0]):
        rows = [("a", newv, D(2020, 1, 10), D(2020, 1, 20))] + rows[1:]
        pstore.update_snapshot(_df(spark, rows), "ds.t", ts[i + 1])

    # keep-2 dropped v1 and v2: v1's January files are unreferenced
    # and must be gone; v1's March files are referenced by v4's
    # manifest and must still exist
    assert not any(os.path.exists(f) for f in jan_v1), jan_v1
    assert all(os.path.exists(f) for f in mar_v1), mar_v1
    m4 = pstore._manifest_of("ds.t", 4)["months"]
    assert m4["2020-03"] == m1["2020-03"]
    # and the surviving reads are complete
    snap = {
        r["key_id"]: r["v"] for r in pstore.get_table("ds.t", ts[3]).collect()
    }
    assert snap == {"a": 6.0, "b": 2.0, "c": 3.0}


def test_scoped_merge_carries_later_months_forward(spark, pstore, monkeypatch):
    """A ``written_range``-scoped merge never reads or rewrites months
    after the range: their rows survive untouched (carried forward by
    manifest reference) even though they are absent from the incoming
    frame."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)

    # complete snapshot of months <= Feb only; March is out of scope
    scoped = [
        ("a", 1.0, D(2020, 1, 10), D(2020, 1, 20)),
        ("b", 9.0, D(2020, 2, 10), D(2020, 2, 20)),
    ]
    pstore.update_snapshot(
        _df(spark, scoped), "ds.t", t2, written_range=(D(2020, 2, 1), D(2020, 2, 28))
    )

    m1 = pstore._manifest_of("ds.t", 1)["months"]
    m2 = pstore._manifest_of("ds.t", 2)["months"]
    # only February changed; January and (unscanned) March are the
    # SAME file references as v1 — zero data I/O for them
    assert m2["2020-01"] == m1["2020-01"]
    assert m2["2020-03"] == m1["2020-03"]
    assert set(m2["2020-02"]).isdisjoint(m1["2020-02"])

    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "b": 9.0, "c": 3.0}
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "b": 2.0, "c": 3.0}


def test_scoped_merge_closes_vanished_rows_in_range(spark, pstore):
    """Omitting an in-scope row from a scoped update closes it, exactly
    as an unscoped full-compare would."""
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)

    scoped = [("b", 2.0, D(2020, 2, 10), D(2020, 2, 20))]  # 'a' vanished
    pstore.update_snapshot(
        _df(spark, scoped), "ds.t", t2, written_range=(D(2020, 1, 1), D(2020, 2, 28))
    )
    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"b": 2.0, "c": 3.0}
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "b": 2.0, "c": 3.0}

    # 'a' reopens, then vanishes again: the second close touches only
    # the open interval, never the closed one sharing its checksum
    t3, t4 = T(2024, 1, 3), T(2024, 1, 4)
    scope = (D(2020, 1, 1), D(2020, 2, 28))
    pstore.update_snapshot(_df(spark, ROWS_V1[:2]), "ds.t", t3, written_range=scope)
    pstore.update_snapshot(_df(spark, scoped), "ds.t", t4, written_range=scope)
    a_rows = sorted(
        (r["from_ts"], r["until_ts"])
        for r in pstore.read_raw("ds.t").where("key_id = 'a'").collect()
    )
    assert a_rows == [(t1, t2), (t3, t4)]
    assert pstore.read_raw("ds.t").count() == 4
    snap3 = {r["key_id"] for r in pstore.get_table("ds.t", t3).collect()}
    assert snap3 == {"a", "b", "c"}


def test_scoped_merge_falls_back_on_range_violation(spark, pstore):
    """Incoming rows past the declared range trip the unscoped-redo
    guard; the result is the full-compare answer, not a corrupted
    scoped one."""
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)

    violating = [
        ("a", 1.0, D(2020, 1, 10), D(2020, 1, 20)),
        ("b", 2.0, D(2020, 2, 10), D(2020, 2, 20)),
        ("c", 9.0, D(2020, 3, 10), None),  # March row, range says Feb
    ]
    pstore.update_snapshot(
        _df(spark, violating),
        "ds.t",
        t2,
        written_range=(D(2020, 1, 1), D(2020, 2, 28)),
    )
    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "b": 2.0, "c": 9.0}
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "b": 2.0, "c": 3.0}


def test_scoped_merge_noop_skips_version(spark, pstore):
    t1 = T(2024, 1, 1)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    scoped = [r for r in ROWS_V1 if r[3] is not None]  # Jan + Feb, unchanged
    pstore.update_snapshot(
        _df(spark, scoped), "ds.t", t1, written_range=(D(2020, 1, 1), D(2020, 2, 28))
    )
    assert pstore._current_version("ds.t") == 1


def test_compact_partitioned_is_partial_and_content_preserving(
    spark, pstore, monkeypatch
):
    """Month-partitioned compaction is PARTIAL via the manifest: only
    months holding more than one file are read and rewritten (to one
    file each); already-compact months are carried forward by
    reference; a fully-compact table is a version-bump-free NO-OP;
    every snapshot is bit-identical throughout."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t1, t2 = T(2024, 1, 1), T(2024, 2, 1)
    # the file-size knob splits months across files -> fragmentation
    pstore.max_records_per_file = 10
    many = [
        (f"k{i}", float(i), D(2020, 1 + i % 2, 10), D(2020, 1 + i % 2, 20))
        for i in range(60)
    ] + [("solo", 1.0, D(2020, 3, 10), D(2020, 3, 20))]  # 1-file month
    pstore.update_snapshot(_df(spark, many), "ds.t", t1)
    pstore.update_snapshot(
        _df(
            spark,
            [("k0", 9.0, D(2020, 1, 10), D(2020, 1, 20))] + many[1:],
        ),
        "ds.t",
        t2,
    )
    pstore.max_records_per_file = None

    def snap(ts):
        return {
            (r["key_id"], r["v"])
            for r in pstore.get_table("ds.t", ts).collect()
        }

    before = {ts: snap(ts) for ts in (t1, t2)}
    v_before = pstore._current_version("ds.t")
    m_before = pstore._manifest_of("ds.t", v_before)["months"]

    def vc_groups(fs):
        out = {}
        for f in fs:
            vc = next(
                (c for c in f.split("/") if c.startswith("__vc=")), None
            )
            out.setdefault(vc, []).append(f)
        return out

    # fragmentation is per (month, __vc transaction-cluster) group:
    # one closed-rows file + one open-rows file IS the converged state
    frag = {
        m
        for m, fs in m_before.items()
        if any(len(g) > 1 for g in vc_groups(fs).values())
    }
    compact_m = {m for m, fs in m_before.items() if m not in frag}
    assert frag, "fixture produced no fragmented month"
    assert compact_m, "fixture produced no already-compact month"

    n_files = pstore.compact("ds.t")
    v_after = pstore._current_version("ds.t")
    assert v_after == v_before + 1
    m_after = pstore._manifest_of("ds.t", v_after)["months"]
    assert n_files == sum(len(fs) for fs in m_after.values())
    for m, fs in m_after.items():
        for vc, g in vc_groups(fs).items():
            assert len(g) == 1, (m, vc, g)
    # already-compact months carried forward by REFERENCE (same
    # files); fragmented months rewritten into the new segment
    for m in compact_m:
        assert m_after[m] == m_before[m]
    seg = pstore._manifest_of("ds.t", v_after)["dir"]
    for m in frag:
        assert all(f.startswith(seg + "/") for f in m_after[m])
    assert {ts: snap(ts) for ts in (t1, t2)} == before

    # fully compact now: another compact is a NO-OP (no version bump)
    assert pstore.compact("ds.t") == n_files
    assert pstore._current_version("ds.t") == v_after
    assert {ts: snap(ts) for ts in (t1, t2)} == before


def test_scoped_merge_read_never_touches_later_month_files(
    spark, pstore, monkeypatch
):
    """Execution-level proof (not plan-string matching) that the
    range-scoped merge's read side prunes months after the written
    range: input_file_name() over the max_valid_from-pruned read
    lists ONLY files of months at-or-before the bound — the parquet
    scan for a June backfill physically never opens July+ files."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    from pyspark.sql import functions as F

    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", T(2024, 1, 1))
    pruned = pstore.read_raw("ds.t", max_valid_from=D(2020, 2, 28))
    files = [
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert files, "pruned read returned no files"
    assert all(
        f"{PARTITION_COL}=2020-01" in f or f"{PARTITION_COL}=2020-02" in f
        for f in files
    ), files


def test_null_valid_from_month_survives_scoped_merges(
    spark, pstore, monkeypatch
):
    """NULL valid_from rows live in the NULL_MONTH manifest segment;
    scoped merges must key them as that segment (a raw date_format
    month would be Python None: unsortable against string months and
    never matching the manifest key — the carried rows would vanish
    silently)."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    from diseasystore_spark.storage.scd2 import NULL_MONTH

    t1, t2, t3 = T(2024, 1, 1), T(2024, 1, 2), T(2024, 1, 3)
    rows_v1 = [
        ("a", 1.0, D(2020, 1, 10), D(2020, 1, 20)),
        ("n", 7.0, None, None),  # NULL valid_from: NULL_MONTH segment
    ]
    pstore.update_snapshot(_df(spark, rows_v1), "ds.t", t1)
    m1 = pstore._manifest_of("ds.t", 1)["months"]
    assert NULL_MONTH in m1

    # Change ONLY the NULL-month row (plus keep January): the scoped
    # merge's changed-months set is exactly the NULL segment.
    rows_v2 = [
        ("a", 1.0, D(2020, 1, 10), D(2020, 1, 20)),
        ("n", 8.0, None, None),
    ]
    pstore.update_snapshot(_df(spark, rows_v2), "ds.t", t2)
    m2 = pstore._manifest_of("ds.t", 2)["months"]
    # January carried by reference; NULL month rewritten.
    assert m2["2020-01"] == m1["2020-01"]
    assert set(m2[NULL_MONTH]).isdisjoint(set(m1[NULL_MONTH]))
    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "n": 8.0}

    # Change a dated month: the NULL month must carry by reference.
    rows_v3 = [
        ("a", 2.0, D(2020, 1, 10), D(2020, 1, 20)),
        ("n", 8.0, None, None),
    ]
    pstore.update_snapshot(_df(spark, rows_v3), "ds.t", t3)
    m3 = pstore._manifest_of("ds.t", 3)["months"]
    assert m3[NULL_MONTH] == m2[NULL_MONTH]
    snap3 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t3).collect()}
    assert snap3 == {"a": 2.0, "n": 8.0}
    # History intact across all three snapshots.
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "n": 7.0}


def test_compact_converges_under_max_records_per_file(spark, pstore):
    """With the file-size knob set, a month legitimately holding
    ceil(rows/N) files is NOT fragmented — compact() must reach a
    version-bump-free no-op instead of rewriting the table's largest
    months on every invocation forever."""
    t1, t2 = T(2024, 1, 1), T(2024, 2, 1)
    pstore.max_records_per_file = 10
    many = [
        (f"k{i}", float(i), D(2020, 1, 10), D(2020, 1, 20))
        for i in range(35)  # one month, ceil(35/10)=4 files achievable
    ]
    pstore.update_snapshot(_df(spark, many), "ds.t", t1)
    # second write fragments the month across two segments
    pstore.update_snapshot(
        _df(spark, [("k0", 9.0, D(2020, 1, 10), D(2020, 1, 20))] + many[1:]),
        "ds.t",
        t2,
    )
    v0 = pstore._current_version("ds.t")
    n1 = pstore.compact("ds.t")
    v1 = pstore._current_version("ds.t")
    # first compact may rewrite (history rows joined the month), but
    # the SECOND must be a no-op at the knob-achievable file count
    n2 = pstore.compact("ds.t")
    assert pstore._current_version("ds.t") == v1
    assert n2 == n1
    assert v1 <= v0 + 1
    snap = {
        (r["key_id"], r["v"]) for r in pstore.get_table("ds.t", t2).collect()
    }
    assert ("k0", 9.0) in snap and len(snap) == 35


def test_compact_enforces_size_cap_retroactively(spark, pstore):
    """A month whose file COUNT already equals the knob-achievable
    target but whose individual files exceed ``max_records_per_file``
    (written before the knob was set, or after it was lowered) IS
    fragmented: compact() must rewrite it so every file respects the
    cap — the size limit is enforced retroactively, not just the
    count (ADVICE r8)."""
    import glob

    import pyarrow.parquet as pq

    t1 = T(2024, 1, 1)
    # knob unset at write time -> one ~35-row file for the month
    many = [
        (f"k{i}", float(i), D(2020, 1, 10), D(2020, 1, 20))
        for i in range(35)
    ]
    pstore.update_snapshot(_df(spark, many), "ds.t", t1)
    v0 = pstore._current_version("ds.t")
    m0 = pstore._manifest_of("ds.t", v0)["months"]
    assert all(len(fs) == 1 for fs in m0.values())

    # knob now set BELOW the existing file size: the count target
    # (ceil(35/10)=4 > 1 file present) is met trivially, but the
    # single 35-row file violates the cap -> must be rewritten.
    pstore.max_records_per_file = 10
    n1 = pstore.compact("ds.t")
    v1 = pstore._current_version("ds.t")
    assert v1 == v0 + 1, "oversized single-file month was not rewritten"
    tdir = pstore._table_dir("ds.t")
    m1 = pstore._manifest_of("ds.t", v1)["months"]
    for m, fs in m1.items():
        for f in fs:
            rows = pq.ParquetFile(os.path.join(tdir, f)).metadata.num_rows
            assert rows <= 10, (m, f, rows)
    # converged: second compact is a version-bump-free no-op
    assert pstore.compact("ds.t") == n1
    assert pstore._current_version("ds.t") == v1
    snap = {
        (r["key_id"], r["v"]) for r in pstore.get_table("ds.t", t1).collect()
    }
    assert snap == {(f"k{i}", float(i)) for i in range(35)}


def test_update_reads_each_new_footer_once_and_stats_live_in_marker(
    spark, pstore, monkeypatch
):
    """A month-layout update builds every new file's stats record from
    ONE read of its footer (carried-forward files inherit theirs), and
    the table statistics live in the commit marker: no ``_STATS.json``
    is written, and ``table_stats`` still returns the write-time
    ANALYZE figures."""
    from collections import Counter

    from diseasystore_spark.storage import scd2 as scd2_mod

    opened: Counter = Counter()
    real_pf, real_md = scd2_mod.pq.ParquetFile, scd2_mod.pq.read_metadata

    def counting_pf(path, *a, **kw):
        opened[str(path)] += 1
        return real_pf(path, *a, **kw)

    def counting_md(path, *a, **kw):
        opened[str(path)] += 1
        return real_md(path, *a, **kw)

    monkeypatch.setattr(scd2_mod.pq, "ParquetFile", counting_pf)
    monkeypatch.setattr(scd2_mod.pq, "read_metadata", counting_md)
    revised = [("a", 9.0, D(2020, 1, 10), D(2020, 1, 25))] + ROWS_V1[1:]
    updates = [
        (ROWS_V1, T(2024, 1, 1), None),
        (revised, T(2024, 2, 1), (D(2020, 1, 1), D(2020, 1, 31))),
    ]
    tdir = pstore._table_dir("ds.t")
    for version, (rows, ts, rng) in enumerate(updates, start=1):
        opened.clear()
        pstore.update_snapshot(_df(spark, rows), "ds.t", ts, written_range=rng)
        man = pstore._manifest_of("ds.t", version)
        new = {
            os.path.join(tdir, r)
            for fs in man["months"].values()
            for r in fs
            if r.startswith(man["dir"] + "/")
        }
        assert new
        assert {p: opened[p] for p in new} == {p: 1 for p in new}
    monkeypatch.undo()

    assert not [
        f for _d, _s, names in os.walk(tdir) for f in names if "_STATS" in f
    ]
    assert set(man) == {"version", "dir", "months", "file_stats", "table_stats"}
    # rows: a@1.0 (closed), a@9.0, b, c; valid_until NULL counts as
    # valid_from: spans 10, 15, 10, 0 days
    assert pstore.table_stats("ds.t") == {
        "n": 4,
        "k": 3,
        "lo": "2020-01-10",
        "hi": "2020-03-10",
        "span_days": 60,
        "avg_span": 8.75,
    }


def test_unreadable_new_footer_fails_the_write_before_commit(
    spark, pstore, monkeypatch
):
    """A new file whose footer cannot be read fails the write: nothing
    is committed and the attempt's segment directory is removed."""
    from diseasystore_spark.storage import scd2 as scd2_mod

    def unreadable(path, *a, **kw):
        raise OSError(f"cannot read footer of {path}")

    monkeypatch.setattr(scd2_mod.pq, "read_metadata", unreadable)
    with pytest.raises(OSError, match="cannot read footer"):
        pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", T(2024, 1, 1))
    monkeypatch.undo()
    assert pstore._current_version("ds.t") is None
    tdir = pstore._table_dir("ds.t")
    assert not [e for e in os.listdir(tdir) if e.startswith("_v")]


def test_compact_sweep_is_metadata_only_and_stable_under_knob_churn(
    spark, pstore, monkeypatch
):
    """VERDICT r9 item 8 + ADVICE r9: (a) per-file row counts are
    cached in the manifest at write time, so an all-compact no-op
    sweep on a knob-set store opens ZERO parquet footers; (b) under
    repeated compact() with mixed historical knob values the version
    count is stable — every knob change buys at most ONE rewrite,
    then the store converges to the no-op (no rewrite-every-call
    regression)."""
    from diseasystore_spark.storage import scd2 as scd2_mod

    t1, t2 = T(2024, 1, 1), T(2024, 2, 1)
    pstore.max_records_per_file = 10
    many = [
        (f"k{i}", float(i), D(2020, 1, 10), D(2020, 1, 20))
        for i in range(35)
    ] + [(f"m{i}", float(i), D(2020, 2, 5), None) for i in range(7)]
    pstore.update_snapshot(_df(spark, many), "ds.t", t1)
    pstore.update_snapshot(
        _df(spark, [("k0", 9.0, D(2020, 1, 10), D(2020, 1, 20))] + many[1:]),
        "ds.t",
        t2,
    )
    # manifest carries write-time per-file row counts for EVERY ref
    v = pstore._current_version("ds.t")
    man = pstore._manifest_of("ds.t", v)
    refs = [f for fs in man["months"].values() for f in fs]
    assert set(man["file_stats"]) >= set(refs)

    pstore.compact("ds.t")  # converge once
    v1 = pstore._current_version("ds.t")

    # (a) the no-op sweep opens zero footers (metadata-only)
    opened: list[str] = []
    real_pf = scd2_mod.pq.ParquetFile

    def counting_pf(path, *a, **kw):
        opened.append(str(path))
        return real_pf(path, *a, **kw)

    monkeypatch.setattr(scd2_mod.pq, "ParquetFile", counting_pf)
    assert pstore.compact("ds.t") > 0
    assert pstore._current_version("ds.t") == v1
    data_opens = [p for p in opened if p.endswith(".parquet")]
    assert data_opens == [], data_opens
    monkeypatch.setattr(scd2_mod.pq, "ParquetFile", real_pf)

    # (b) knob churn: each change converges within one rewrite
    versions = [v1]
    for knob in (3, 25, None, 10, 10):
        pstore.max_records_per_file = knob
        pstore.compact("ds.t")
        va = pstore._current_version("ds.t")
        for _ in range(3):  # repeated compacts at held knob: no churn
            pstore.compact("ds.t")
        vb = pstore._current_version("ds.t")
        assert vb == va, (knob, va, vb)
        assert va <= versions[-1] + 1, (knob, versions, va)
        versions.append(vb)

    # logical content untouched through all of it
    snap = {
        (r["key_id"], r["v"]) for r in pstore.get_table("ds.t", t2).collect()
    }
    assert ("k0", 9.0) in snap and len(snap) == 42


def test_scoped_merge_never_touches_out_of_range_rows(
    spark, pstore, monkeypatch
):
    """Round-10 closure scoping: a scoped merge compares ONLY rows
    overlapping the declared range. (a) A backfill at a NEW slice_ts
    must not close rows entirely before the range (the reference
    keeps them via its re-include; we keep them by never making them
    close candidates) and must rewrite only the range's months.
    (b) Out-of-scope current rows sharing a CHANGED month with the
    range (sub-month update) must be carried into the rewrite."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t1, t2 = T(2024, 1, 1), T(2024, 2, 1)
    rows = [
        ("jan_a", 1.0, D(2020, 1, 5), D(2020, 1, 8)),    # before range
        ("feb_early", 2.0, D(2020, 2, 1), D(2020, 2, 5)),  # before range,
                                                           # same month
        ("feb_mid", 3.0, D(2020, 2, 10), D(2020, 2, 20)),  # in range
        ("mar_open", 4.0, D(2020, 3, 10), None),           # after range
    ]
    pstore.update_snapshot(_df(spark, rows), "ds.t", t1)
    v1 = pstore._current_version("ds.t")
    m1 = pstore._manifest_of("ds.t", v1)["months"]

    # NEW slice_ts, scoped to Feb 8..28: feb_mid revised, everything
    # else untouched (out of range). The incoming frame also repeats
    # two out-of-scope current rows: they match as current rows and
    # are neither re-opened nor closed.
    pstore.update_snapshot(
        _df(
            spark,
            [
                ("feb_mid", 9.0, D(2020, 2, 10), D(2020, 2, 20)),
                rows[0],  # jan_a
                rows[1],  # feb_early
            ],
        ),
        "ds.t",
        t2,
        written_range=(D(2020, 2, 8), D(2020, 2, 28)),
    )
    v2 = pstore._current_version("ds.t")
    assert v2 == v1 + 1
    m2 = pstore._manifest_of("ds.t", v2)["months"]

    # (a) only February was rewritten; January and March carry forward
    # by reference (identical file lists), and no out-of-range row was
    # closed at t2
    assert m2["2020-01"] == m1["2020-01"]
    assert m2["2020-03"] == m1["2020-03"]
    assert m2["2020-02"] != m1["2020-02"]
    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {
        "jan_a": 1.0,       # entirely before range: still open at t2
        "feb_early": 2.0,   # (b) same month, out of scope: carried
        "feb_mid": 9.0,     # in range: revised
        "mar_open": 4.0,    # after range: untouched
    }
    # exactly one copy of each repeated out-of-scope row, still open
    repeated = sorted(
        (r["key_id"], r["from_ts"], r["until_ts"])
        for r in pstore.read_raw("ds.t")
        .where("key_id IN ('jan_a', 'feb_early')")
        .collect()
    )
    assert repeated == [("feb_early", t1, None), ("jan_a", t1, None)]
    # t1's snapshot is untouched history
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {
        "jan_a": 1.0, "feb_early": 2.0, "feb_mid": 3.0, "mar_open": 4.0,
    }

    # a no-op scoped re-merge at yet another slice_ts bumps nothing
    t3 = T(2024, 3, 1)
    pstore.update_snapshot(
        _df(spark, [("feb_mid", 9.0, D(2020, 2, 10), D(2020, 2, 20))]),
        "ds.t",
        t3,
        written_range=(D(2020, 2, 8), D(2020, 2, 28)),
    )
    assert pstore._current_version("ds.t") == v2


def test_min_valid_until_prunes_closed_months_at_manifest(
    spark, pstore, monkeypatch
):
    """Round-10 lower-bound pruning: write-time month_stats (max
    valid_until + open flag, from the same parquet footers the
    row-count cache reads) let an overlap-clipped snapshot read skip
    months whose every row closed before the window — a narrow study
    period reads O(window + open months), not O(history)."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    from pyspark.sql import functions as F

    t1 = T(2024, 1, 1)
    rows = [
        ("a", 1.0, D(2020, 1, 5), D(2020, 1, 20)),   # Jan: closed early
        ("b", 2.0, D(2020, 2, 5), D(2020, 2, 10)),   # Feb: closed early
        ("c", 3.0, D(2020, 3, 5), D(2020, 5, 15)),   # Mar: crosses to May
        ("d", 4.0, D(2020, 4, 2), None),             # Apr: OPEN
        ("e", 5.0, D(2020, 5, 2), D(2020, 5, 9)),    # May
    ]
    pstore.update_snapshot(_df(spark, rows), "ds.t", t1)
    ms = pstore._month_stats(pstore._manifest_of("ds.t", 1))
    assert ms is not None
    assert ms["2020-01"] == {"max_until": "2020-01-20", "open": False}
    assert ms["2020-04"]["open"] is True

    def months_of(df):
        return {
            p.split(f"{PARTITION_COL}=")[1].split("/")[0]
            for p in df.inputFiles()
        }

    full = pstore.get_table("ds.t", t1)
    assert len(months_of(full)) == 5
    window = pstore.get_table("ds.t", t1, min_valid_until=D(2020, 5, 1))
    # Jan+Feb pruned; Mar kept (crosses the window), Apr kept (open),
    # May kept
    assert months_of(window) == {"2020-03", "2020-04", "2020-05"}
    # identical results under the overlap clip the engine applies
    clip = (F.col("valid_until") > F.lit(D(2020, 5, 1))) | F.col(
        "valid_until"
    ).isNull()
    assert sorted(map(tuple, full.where(clip).collect())) == sorted(
        map(tuple, window.where(clip).collect())
    )
    # boundary: valid_until == min is prunable (half-open clip drops it)
    w2 = pstore.get_table("ds.t", t1, min_valid_until=D(2020, 1, 20))
    assert "2020-01" not in months_of(w2)

    # compaction rewrites keep stats fresh (recomputed from the new
    # files' footers), carried months inherit
    pstore.max_records_per_file = 2
    pstore.compact("ds.t")
    v = pstore._current_version("ds.t")
    ms2 = pstore._month_stats(pstore._manifest_of("ds.t", v))
    assert ms2["2020-01"] == {"max_until": "2020-01-20", "open": False}
    assert ms2["2020-04"]["open"] is True
    window3 = pstore.get_table("ds.t", t1, min_valid_until=D(2020, 5, 1))
    assert months_of(window3) == {"2020-03", "2020-04", "2020-05"}

    # ADVICE r10: an unparseable max_until (e.g. an ISO DATETIME
    # written by a hypothetical timestamp-typed valid_until) must
    # fail OPEN — the month is simply not pruned; the read never
    # crashes. Corrupt the live commit marker in place.
    import json as _json
    import os as _os

    marker_path = _os.path.join(
        pstore._commits_dir("ds.t"), f"{pstore._current_version('ds.t')}.json"
    )
    marker = _json.loads(pstore.commit_backend.get(marker_path))
    for ref in marker["months"]["2020-01"]:
        marker["file_stats"][ref]["max_valid_until"] = "2020-01-20T00:00:00"
    pstore.commit_backend.put(marker_path, _json.dumps(marker).encode())
    w4 = pstore.get_table("ds.t", t1, min_valid_until=D(2020, 5, 1))
    assert "2020-01" in months_of(w4)  # not prunable, but readable
    assert "2020-02" not in months_of(w4)  # other stats still apply


def test_until_ts_axis_prunes_closed_history_files(spark, pstore, monkeypatch):
    """Round-11 transaction-axis pruning (VERDICT r10 item 1): the
    writer clusters closed rows into ``__vc=c`` files and records
    per-file until/from stats in the manifest, so ``get_table``
    physically opens only the files that can contribute to the
    requested slice — a current-slice read of a multi-slice table
    never opens the closed-history files, and an as-of read of an
    OLD slice never opens files created after it. Pinned via
    inputFiles(); snapshot contents stay exact at every slice,
    including across compaction. Mirrors the reference's snapshot
    predicate ``R/2_FeatureHandler.R:90-96``. Pinned to the per-month
    layout; ``test_until_ts_axis_prunes_packed_bins`` is its packed
    twin."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t1, t2, t3 = T(2024, 1, 1), T(2024, 2, 1), T(2024, 3, 1)
    keys = [(m, k) for m in (1, 2, 3) for k in range(3)]

    def gen(v, months=(1, 2, 3)):
        return [
            (f"k{m}_{k}", v, D(2020, m, 10), D(2020, m, 20))
            for m, k in keys
            if m in months
        ]

    pstore.update_snapshot(_df(spark, gen(1.0)), "ds.t", t1)
    pstore.update_snapshot(_df(spark, gen(2.0)), "ds.t", t2)
    # t3 revises ONLY February: Jan/Mar carried forward by reference,
    # their transaction-axis stats INHERITED from the base manifest
    pstore.update_snapshot(
        _df(spark, gen(3.0, months=(2,))),
        "ds.t",
        t3,
        written_range=(D(2020, 2, 1), D(2020, 2, 28)),
    )

    def clusters(df):
        out = set()
        for p in df.inputFiles():
            m = p.split("__vm=")[1].split("/")[0]
            vc = p.split("__vc=")[1].split("/")[0] if "__vc=" in p else None
            out.add((m, vc))
        return out

    def snap(ts):
        return {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", ts).collect()}

    def check_all():
        cur = pstore.get_table("ds.t", t3)
        # current slice: zero closed-cluster files opened (Jan/Mar via
        # INHERITED stats, Feb via fresh ones)
        assert clusters(cur) == {
            ("2020-01", "o"), ("2020-02", "o"), ("2020-03", "o"),
        }
        assert snap(t3) == {
            f"k{m}_{k}": (3.0 if m == 2 else 2.0) for m, k in keys
        }
        # slice t2: Jan/Mar closed files pruned (all closed AT t2);
        # Feb's t2-rows now live in its closed file (closed at t3);
        # Feb's open file pruned on the FROM axis (created at t3)
        at2 = pstore.get_table("ds.t", t2)
        assert clusters(at2) == {
            ("2020-01", "o"), ("2020-03", "o"), ("2020-02", "c"),
        }
        assert snap(t2) == {f"k{m}_{k}": 2.0 for m, k in keys}
        # slice t1: only the closed-history files can answer it
        at1 = pstore.get_table("ds.t", t1)
        assert clusters(at1) == {
            ("2020-01", "c"), ("2020-02", "c"), ("2020-03", "c"),
        }
        assert snap(t1) == {f"k{m}_{k}": 1.0 for m, k in keys}

    check_all()
    # compaction rewrites keep the clustering AND the stats fresh
    pstore.compact("ds.t", full=True)
    check_all()


def test_until_ts_axis_prunes_packed_bins(spark, pstore):
    """Packed twin of ``test_until_ts_axis_prunes_closed_history_files``:
    the same three slices on a table whose merges are small enough to
    pack. Each merge writes one bin — one file per ``__vc`` cluster —
    listed under all three months, and the scoped February revision
    rewrites the whole bin. Snapshots stay exact at every slice and
    across a full compaction, no file is read twice, and the current
    slice opens no closed-cluster file."""
    t1, t2, t3 = T(2024, 1, 1), T(2024, 2, 1), T(2024, 3, 1)
    keys = [(m, k) for m in (1, 2, 3) for k in range(3)]

    def gen(v, months=(1, 2, 3)):
        return [
            (f"k{m}_{k}", v, D(2020, m, 10), D(2020, m, 20))
            for m, k in keys
            if m in months
        ]

    pstore.update_snapshot(_df(spark, gen(1.0)), "ds.t", t1)
    pstore.update_snapshot(_df(spark, gen(2.0)), "ds.t", t2)
    m2 = pstore._manifest_of("ds.t", 2)
    bin2 = m2["months"]["2020-01"]
    assert m2["months"]["2020-02"] == bin2 == m2["months"]["2020-03"]
    assert sorted(f.split("/")[1] for f in bin2) == ["__vc=c", "__vc=o"]
    assert all(f.startswith(m2["dir"] + "/") for f in bin2)
    pstore.update_snapshot(
        _df(spark, gen(3.0, months=(2,))),
        "ds.t",
        t3,
        written_range=(D(2020, 2, 1), D(2020, 2, 28)),
    )
    # the February revision rewrote the whole bin, January and March
    # included: no month still references a file of the old bin
    m3 = pstore._manifest_of("ds.t", 3)
    bin3 = m3["months"]["2020-02"]
    assert m3["months"]["2020-01"] == bin3 == m3["months"]["2020-03"]
    assert set(bin3).isdisjoint(bin2)
    assert all(f.startswith(m3["dir"] + "/") for f in bin3)
    _assert_manifest_stats_sound(pstore, "ds.t")

    def clusters(df):
        files = df.inputFiles()
        assert len(files) == len(set(files)), files
        return {p.split("__vc=")[1].split("/")[0] for p in files}

    def snap(ts):
        return {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", ts).collect()}

    def check_all():
        assert clusters(pstore.get_table("ds.t", t3)) == {"o"}
        assert snap(t3) == {
            f"k{m}_{k}": (3.0 if m == 2 else 2.0) for m, k in keys
        }
        assert snap(t2) == {f"k{m}_{k}": 2.0 for m, k in keys}
        assert clusters(pstore.get_table("ds.t", t1)) == {"c"}
        assert snap(t1) == {f"k{m}_{k}": 1.0 for m, k in keys}
        # 9 rows per full slice + 3 February revisions, each once
        assert pstore.read_raw("ds.t").count() == 21

    check_all()
    pstore.compact("ds.t", full=True)
    check_all()


def _assert_manifest_stats_sound(pstore, table_id):
    """Invariant: every field of every file record in the CURRENT
    manifest, and the month stats derived from them, match what the
    referenced parquet files actually contain (recomputed here from
    the raw column values via pyarrow, independent of the writer's
    code path)."""
    import datetime as dt

    import pyarrow.parquet as pq

    v = pstore._current_version(table_id)
    m = pstore._manifest_of(table_id, v)
    tdir = pstore._table_dir(table_id)
    ms = pstore._month_stats(m)

    def col_vals(path, col):
        t = pq.read_table(path, columns=[col])
        vals = t.column(0).to_pylist()
        return [
            v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            if isinstance(v, dt.datetime) and v.tzinfo is not None
            else v
            for v in vals
        ]

    def iso_max(vals):
        vals = [x for x in vals if x is not None]
        return max(vals).isoformat() if vals else None

    refs_all = {r for fs in m["months"].values() for r in fs}
    assert set(m["file_stats"]) == refs_all
    # a packed bin is listed whole under each of its months: the ref
    # sets of any two months are equal or disjoint
    ref_sets = [set(fs) for fs in m["months"].values()]
    for a in ref_sets:
        for b in ref_sets:
            assert a == b or a.isdisjoint(b), (a, b)
    for month, refs in m["months"].items():
        vu_month = []
        for r in refs:
            rec = m["file_stats"][r]
            ut = col_vals(f"{tdir}/{r}", "until_ts")
            ft = col_vals(f"{tdir}/{r}", "from_ts")
            vu = col_vals(f"{tdir}/{r}", "valid_until")
            vu_month += vu
            assert rec["rows"] == len(ft), r
            assert rec["min_from_ts"] == min(ft).isoformat(), r
            closed = all(x is not None for x in ut)
            assert rec["max_until_ts"] == (iso_max(ut) if closed else None), r
            assert rec["max_valid_until"] == iso_max(vu), r
            assert rec["valid_open"] == any(x is None for x in vu), r
        if month not in ms:  # the NULL month: never pruned
            continue
        # month stats: max(valid_until) / any-open over ALL the
        # month's rows
        assert ms[month]["open"] == any(x is None for x in vu_month), month
        if not ms[month]["open"]:
            assert ms[month]["max_until"] == iso_max(vu_month), month


def test_prune_history_keeps_manifest_stats_sound(spark, pstore, monkeypatch):
    """VERDICT r10 item 6: prune_history physically drops long-closed
    rows, which can change a month's max(valid_until), its max
    (until_ts) and its file layout — every manifest stats family must
    be refreshed (the rewrite recomputes them from the new footers),
    or pruning decisions would be made against stale bounds. Churn:
    write / revise / prune / compact / revise again, asserting the
    footer-recomputed invariant and snapshot identity at every step."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t = [T(2024, 1, d) for d in (1, 2, 3, 4, 5)]
    rows1 = [
        ("a", 1.0, D(2020, 1, 5), D(2020, 1, 31)),
        ("b", 2.0, D(2020, 1, 7), D(2020, 1, 9)),
        ("c", 3.0, D(2020, 2, 5), None),
    ]
    pstore.update_snapshot(_df(spark, rows1), "ds.t", t[0])
    # t1 revision closes 'a' (its valid_until 2020-01-31 was January's
    # max) and replaces it with a shorter validity
    rows2 = [
        ("a", 1.5, D(2020, 1, 5), D(2020, 1, 12)),
        ("b", 2.0, D(2020, 1, 7), D(2020, 1, 9)),
        ("c", 3.0, D(2020, 2, 5), None),
    ]
    pstore.update_snapshot(_df(spark, rows2), "ds.t", t[1])
    _assert_manifest_stats_sound(pstore, "ds.t")
    ms = pstore._month_stats(
        pstore._manifest_of("ds.t", pstore._current_version("ds.t"))
    )
    assert ms["2020-01"] == {"max_until": "2020-01-31", "open": False}

    # prune everything closed at-or-before t2: drops the old 'a' row,
    # January's true max(valid_until) shrinks to 01-12
    dropped = pstore.prune_history("ds.t", t[1])
    assert dropped == 1
    _assert_manifest_stats_sound(pstore, "ds.t")
    ms2 = pstore._month_stats(
        pstore._manifest_of("ds.t", pstore._current_version("ds.t"))
    )
    assert ms2["2020-01"] == {"max_until": "2020-01-12", "open": False}
    # a min_valid_until read AFTER the prune uses the refreshed bound:
    # January now prunable at a window the stale stats would have kept
    w = pstore.get_table("ds.t", t[1], min_valid_until=D(2020, 1, 20))
    assert not any("__vm=2020-01" in p for p in w.inputFiles())

    # churn on: compact, revise, prune again — invariant holds
    pstore.max_records_per_file = 1
    pstore.compact("ds.t")
    _assert_manifest_stats_sound(pstore, "ds.t")
    rows3 = [
        ("a", 9.0, D(2020, 1, 5), D(2020, 1, 25)),
        ("b", 2.0, D(2020, 1, 7), D(2020, 1, 9)),
        ("c", 3.5, D(2020, 2, 5), None),
    ]
    pstore.update_snapshot(_df(spark, rows3), "ds.t", t[2])
    _assert_manifest_stats_sound(pstore, "ds.t")
    pstore.prune_history("ds.t", t[2])
    _assert_manifest_stats_sound(pstore, "ds.t")
    snap = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t[3]).collect()}
    assert snap == {"a": 9.0, "b": 2.0, "c": 3.5}


def test_duplicate_incoming_rows_open_one_row(spark, pstore):
    """Incoming duplicates (a revised row and a new row, each twice)
    open exactly one row each."""
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    revised = ("b", 9.0, D(2020, 2, 10), D(2020, 2, 20))
    new = ("d", 4.0, D(2020, 2, 12), None)
    pstore.update_snapshot(
        _df(spark, [ROWS_V1[0], revised, revised, ROWS_V1[2], new, new]),
        "ds.t",
        t2,
        written_range=(D(2020, 1, 1), D(2020, 3, 31)),
    )
    open_rows = sorted(
        (r["key_id"], r["v"], r["from_ts"])
        for r in pstore.read_raw("ds.t").where("until_ts IS NULL").collect()
    )
    assert open_rows == [
        ("a", 1.0, t1), ("b", 9.0, t2), ("c", 3.0, t1), ("d", 4.0, t2),
    ]


def test_empty_range_snapshot_closes_only_in_scope_rows(
    spark, pstore, monkeypatch
):
    """An empty snapshot of a range closes exactly the current rows
    overlapping the range; the range's month is rewritten and every
    other month keeps its manifest references."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    rows = [
        ("jan", 1.0, D(2020, 1, 10), D(2020, 1, 20)),      # before range
        ("feb_early", 2.0, D(2020, 2, 3), D(2020, 2, 6)),  # before range,
                                                           # same month
        ("feb_mid", 3.0, D(2020, 2, 10), D(2020, 2, 20)),  # in range
        ("feb_open", 4.0, D(2020, 2, 12), None),           # in range
        ("mar", 5.0, D(2020, 3, 10), None),                # after range
    ]
    pstore.update_snapshot(_df(spark, rows), "ds.t", t1)
    m1 = pstore._manifest_of("ds.t", 1)["months"]
    pstore.update_snapshot(
        _df(spark, []), "ds.t", t2, written_range=(D(2020, 2, 8), D(2020, 2, 28))
    )
    m2 = pstore._manifest_of("ds.t", 2)["months"]
    assert m2["2020-01"] == m1["2020-01"]
    assert m2["2020-03"] == m1["2020-03"]
    assert set(m2["2020-02"]).isdisjoint(m1["2020-02"])
    closed = {
        r["key_id"]
        for r in pstore.read_raw("ds.t").where("until_ts IS NOT NULL").collect()
    }
    assert closed == {"feb_mid", "feb_open"}
    snap2 = {r["key_id"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"jan", "feb_early", "mar"}
    snap1 = {r["key_id"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {r[0] for r in rows}


def test_manifest_reads_launch_no_spark_job(spark, pstore, tmp_path):
    """Reads resolved from a manifest take their schema from the file
    footer Spark wrote: building the frame runs no Spark job (no
    schema inference), and the schema is the one inference yields."""
    flat = ParquetFeatureStore(spark, str(tmp_path / "flat"))
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    t1 = T(2024, 1, 1)
    for store in (pstore, flat):
        store.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
        files = store._version_files("ds.t", store._current_version("ds.t"))
        before = scheduler.nextJobId()
        raw = store.read_raw("ds.t")
        pruned = store.read_raw("ds.t", max_valid_from=D(2019, 12, 31))
        snap = store.get_table("ds.t", t1)
        assert scheduler.nextJobId() == before
        inferred = spark.read.parquet(*files).schema
        assert raw.schema == inferred
        assert pruned.schema == inferred
        assert snap.columns == ["key_id", "v", "valid_from", "valid_until"]
        assert {r["key_id"] for r in snap.collect()} == {"a", "b", "c"}


def _packed(spark, store, rows, t0, t1):
    """Write ``rows`` at ``t1`` over an earlier revision of every row
    at ``t0``, so the ``t1`` merge changes every month at once and
    packs them into one bin."""
    store.update_snapshot(
        _df(spark, [(k, v - 1, vf, vu) for k, v, vf, vu in rows]), "ds.t", t0
    )
    store.update_snapshot(_df(spark, rows), "ds.t", t1)
    months = store._manifest_of("ds.t", store._current_version("ds.t"))[
        "months"
    ]
    assert len({tuple(fs) for fs in months.values()}) == 1, months
    return months


def _each_row_once(store):
    ids = [(r["key_id"], r["from_ts"]) for r in store.read_raw("ds.t").collect()]
    assert len(ids) == len(set(ids)), sorted(ids)
    return len(ids)


def test_append_only_merge_on_packed_base_rewrites_whole_bin(spark, pstore):
    """An append-only merge that touches one month of a packed bin
    rewrites the whole bin (carrying the other months would keep
    references to rewritten files), and every row appears once."""
    t0, t1, t2 = T(2024, 1, 1), T(2024, 1, 2), T(2024, 1, 3)
    bin1 = _packed(spark, pstore, ROWS_V1, t0, t1)
    new = ("d", 4.0, D(2020, 2, 12), None)
    pstore.update_snapshot(_df(spark, [new]), "ds.t", t2, close_absent=False)
    months = pstore._manifest_of("ds.t", pstore._current_version("ds.t"))[
        "months"
    ]
    assert months["2020-01"] == months["2020-02"] == months["2020-03"]
    assert set(months["2020-01"]).isdisjoint(bin1["2020-01"])
    _assert_manifest_stats_sound(pstore, "ds.t")
    assert _each_row_once(pstore) == 7
    snap = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap == {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}
    snap0 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t0).collect()}
    assert snap0 == {"a": 0.0, "b": 1.0, "c": 2.0}


def test_compact_on_packed_base_counts_each_file_once(spark, pstore, monkeypatch):
    """Under ``max_records_per_file``, compaction rewrites the
    oversized month and carries the packed bin by reference; the file
    count it returns lists the bin's files once, though two months
    list them."""
    t0, t1 = T(2024, 1, 1), T(2024, 1, 2)
    small = [("j", 1.0, D(2020, 1, 10), None), ("f", 2.0, D(2020, 2, 10), None)]
    bin1 = _packed(spark, pstore, small, t0, t1)
    # The Jan/Feb bin's 4 rows exceed the constant, so the March merge
    # takes the census path and rewrites March alone; at or below it,
    # a merge rewrites its whole scope closure, the bin included.
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 3)
    pstore.update_snapshot(
        _df(spark, small + [(f"m{i}", 1.0, D(2020, 3, 10), None) for i in range(12)]),
        "ds.t",
        t1,
        written_range=(D(2020, 3, 1), D(2020, 3, 31)),
    )
    v = pstore._current_version("ds.t")
    pstore.max_records_per_file = 5
    n = pstore.compact("ds.t")
    assert pstore._current_version("ds.t") == v + 1
    months = pstore._manifest_of("ds.t", v + 1)["months"]
    assert months["2020-01"] == months["2020-02"] == bin1["2020-01"]
    assert len(months["2020-03"]) == 3
    assert n == len({r for fs in months.values() for r in fs}) == 5
    _assert_manifest_stats_sound(pstore, "ds.t")
    assert _each_row_once(pstore) == 16
    assert pstore.compact("ds.t") == n  # converged: a no-op
    assert pstore._current_version("ds.t") == v + 1


def test_write_version_refuses_to_split_a_packed_bin(spark, pstore):
    """Rewriting one month of a packed bin while carrying the others
    would leave them referencing rewritten files; ``_write_version``
    refuses before any Spark job or file write."""
    t0, t1 = T(2024, 1, 1), T(2024, 1, 2)
    _packed(spark, pstore, ROWS_V1, t0, t1)
    v = pstore._current_version("ds.t")
    tdir = pstore._table_dir("ds.t")
    before = sorted(os.listdir(tdir))
    feb = pstore.read_raw("ds.t").where("month(valid_from) = 2")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    job = scheduler.nextJobId()
    with pytest.raises(RuntimeError, match="carried months"):
        pstore._write_version(
            feb, "ds.t", changed_months=["2020-02"], base_version=v, rows=2
        )
    assert scheduler.nextJobId() == job
    assert sorted(os.listdir(tdir)) == before
    assert pstore._current_version("ds.t") == v


def _flat_base(spark, store, rows, ts):
    """Commit ``rows`` at ``ts`` as version 1 of ``ds.t`` in the retired
    flat layout, by hand (no code writes it any more): one segment of
    plain parquet files and a marker listing them as ``files``, with
    their ``file_stats`` records."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from diseasystore_spark.storage.scd2 import _file_record, row_checksum

    df = _df(spark, rows)
    tdir = store._table_dir("ds.t")
    df.withColumns(
        {
            "checksum": row_checksum(df.columns),
            "from_ts": F.lit(ts).cast("timestamp"),
            "until_ts": F.lit(None).cast("timestamp"),
        }
    ).write.parquet(os.path.join(tdir, "_v1-flat"))
    parts = sorted(
        f"_v1-flat/{f}"
        for f in os.listdir(os.path.join(tdir, "_v1-flat"))
        if f.endswith(".parquet")
    )
    marker = {
        "version": 1,
        "dir": "_v1-flat",
        "files": parts,
        "file_stats": {
            p: _file_record(pq.read_metadata(os.path.join(tdir, p)))
            for p in parts
        },
    }
    store.commit_backend.put(
        os.path.join(store._commits_dir("ds.t"), "1.json"),
        json.dumps(marker).encode(),
    )


@pytest.mark.parametrize("violating", [False, True])
def test_scoped_update_is_layout_independent(
    spark, pstore, tmp_path, monkeypatch, violating
):
    """A range-scoped update gives the same snapshots whatever layout
    holds its base: a flat table (the migration write), per-month
    files or one packed bin. In range, only in-scope rows close; an
    incoming row past the range falls back to the unscoped compare on
    every layout, even where the base holds that row in a file the
    scoped read opens."""
    from diseasystore_spark.storage.backends import MemoryCommitBackend

    memory = isinstance(pstore.commit_backend, MemoryCommitBackend)

    def store(name, granularity):
        root = str(tmp_path / name)
        kw = {"commit_backend": MemoryCommitBackend.shared(root)} if memory else {}
        return ParquetFeatureStore(
            spark, root, partition_granularity=granularity, **kw
        )

    t0, t1, t2 = T(2024, 1, 1), T(2024, 1, 2), T(2024, 1, 3)
    _flat_base(spark, store("flat", None), ROWS_V1, t1)
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    monkeypatch.undo()
    packed = store("packed", "month")
    _packed(spark, packed, ROWS_V1, t0, t1)
    bases = {"flat": store("flat", "month"), "month": pstore, "packed": packed}

    data = [("a", 9.0, D(2020, 1, 10), D(2020, 1, 20))]
    if violating:
        data.append(ROWS_V1[2])  # March, unchanged: past the range
    for st in bases.values():
        st.update_snapshot(
            _df(spark, data),
            "ds.t",
            t2,
            written_range=(D(2020, 1, 1), D(2020, 1, 31)),
        )

    def snap(st, ts):
        return {r["key_id"]: r["v"] for r in st.get_table("ds.t", ts).collect()}

    want = {"a": 9.0, "c": 3.0} if violating else {"a": 9.0, "b": 2.0, "c": 3.0}
    assert {n: snap(st, t2) for n, st in bases.items()} == dict.fromkeys(
        bases, want
    )
    assert {n: snap(st, t1) for n, st in bases.items()} == dict.fromkeys(
        bases, {"a": 1.0, "b": 2.0, "c": 3.0}
    )
    flat = bases["flat"]
    assert "months" in flat._manifest_of("ds.t", flat._current_version("ds.t"))


def test_append_only_on_a_flat_base_migrates_it(spark, tmp_path):
    """A table written in the retired flat layout (the q158 stream
    store of an older release) migrates on its first append: the new
    version lists months, only the batch's new checksums are inserted,
    every earlier snapshot survives, and a replay inserts nothing."""
    pstore = ParquetFeatureStore(spark, str(tmp_path / "s"))
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    _flat_base(spark, pstore, ROWS_V1, t1)
    assert "files" in pstore._manifest_of("ds.t", 1)
    batch = [ROWS_V1[0], ("d", 4.0, D(2020, 2, 12), None)]
    pstore.update_snapshot(_df(spark, batch), "ds.t", t2, close_absent=False)
    man = pstore._manifest_of("ds.t", 2)
    assert "months" in man and "files" not in man
    _assert_manifest_stats_sound(pstore, "ds.t")
    assert _each_row_once(pstore) == 4
    snap = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap == {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "b": 2.0, "c": 3.0}
    pstore.update_snapshot(_df(spark, batch), "ds.t", t2, close_absent=False)
    assert pstore._current_version("ds.t") == 2


def _dummy(spark, n):
    """bench.py's baseline feature frame: ``32 * n`` cars, one every
    other day back from 2024-06-01, each valid for two days."""
    from pyspark.sql import functions as F

    return (
        spark.range(1, 32 * n + 1)
        .select(
            F.concat(F.lit("car_"), F.col("id")).alias("key_car"),
            ((F.col("id") % 3) * 2 + 4.0).alias("n_cyl"),
            F.date_sub(
                F.lit(D(2024, 6, 1)), (F.col("id") * 2).cast("int")
            ).alias("valid_from"),
        )
        .withColumn("valid_until", F.date_add("valid_from", 2))
    )


def _rows(frame):
    return sorted(map(tuple, frame.collect()))


#: Spark jobs the retired flat layout's cold write of ``_dummy(spark,
#: 10)`` started in the test session (measured before it was retired;
#: the month layout's per-month cold write started 3)
_FLAT_COLD_WRITE_JOBS = 2


def test_small_cold_write_is_one_bin_listed_under_every_month(
    spark, tmp_path, monkeypatch
):
    """A cold write of at most ``_PACK_MAX_ROWS`` rows spanning many
    months is one packed bin: no month directory, one file list under
    every month its ``valid_from`` range spans, no more Spark jobs than
    the flat layout's cold write, and the same snapshots as the
    per-month layout."""
    frame = _dummy(spark, 10)
    store = ParquetFeatureStore(spark, str(tmp_path / "packed"))
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    job = scheduler.nextJobId()
    store.update_snapshot(frame, "ds.t", T(2024, 6, 1))
    assert scheduler.nextJobId() - job <= _FLAT_COLD_WRITE_JOBS

    tdir = store._table_dir("ds.t")
    assert not [d for d, _s, _f in os.walk(tdir) if f"{PARTITION_COL}=" in d]
    man = store._manifest_of("ds.t", 1)
    refs = store._manifest_refs(man)
    want = sorted(
        {
            (D(2024, 6, 1) - datetime.timedelta(days=2 * i)).strftime("%Y-%m")
            for i in range(1, 321)
        }
    )
    assert sorted(man["months"]) == want and len(want) == 22
    assert all(fs == refs for fs in man["months"].values())
    # on disk the bin's file list is stored once, and each month names it
    raw = json.loads(
        store.commit_backend.get(os.path.join(store._commits_dir("ds.t"), "1.json"))
    )
    assert raw["bins"] == [refs]
    assert raw["months"] == {m: 0 for m in want}

    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    per_month = ParquetFeatureStore(spark, str(tmp_path / "per_month"))
    per_month.update_snapshot(frame, "ds.t", T(2024, 6, 1))
    # a bin is read whole when any of its months is kept, a superset
    # the caller's clip narrows (as get_feature's does)
    for cut in (None, D(2023, 1, 31)):
        got, ref = (
            st.get_table("ds.t", T(2024, 6, 2), max_valid_from=cut).where(
                "true" if cut is None else f"valid_from <= '{cut}'"
            )
            for st in (store, per_month)
        )
        assert _rows(got) == _rows(ref) and _rows(got)
    assert _rows(store.get_table("ds.t", T(2024, 6, 2))) == _rows(frame)
    assert store.get_table("ds.t", T(2024, 5, 31)).count() == 0


def test_cold_write_above_the_constant_is_laid_out_per_month(
    spark, tmp_path, monkeypatch
):
    """A cold write of more than ``_PACK_MAX_ROWS`` rows is re-laid out
    per month from its first pass, and the first pass's files are
    removed: every parquet file under the table is one the manifest
    lists, each under its own month."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 100)
    pstore = ParquetFeatureStore(spark, str(tmp_path / "s"))
    frame = _dummy(spark, 10)
    pstore.update_snapshot(frame, "ds.t", T(2024, 6, 1))
    man = pstore._manifest_of("ds.t", 1)
    tdir = pstore._table_dir("ds.t")
    assert [e for e in os.listdir(tdir) if e.startswith("_v")] == [man["dir"]]
    on_disk = {
        os.path.relpath(os.path.join(d, f), tdir)
        for d, _s, names in os.walk(tdir)
        for f in names
        if f.endswith(".parquet")
    }
    assert on_disk == set(pstore._manifest_refs(man))
    assert len(man["months"]) == 22
    for m, fs in man["months"].items():
        assert all(f"/{PARTITION_COL}={m}/" in f for f in fs), (m, fs)
    _assert_manifest_stats_sound(pstore, "ds.t")
    assert _rows(pstore.get_table("ds.t", T(2024, 6, 2))) == _rows(frame)


def test_table_without_valid_from_round_trips_per_month(
    spark, tmp_path, monkeypatch
):
    """A table without ``valid_from`` keeps every row in NULL_MONTH,
    through the per-month path too: cold write, merge and append."""
    from diseasystore_spark.storage.scd2 import NULL_MONTH

    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)
    pstore = ParquetFeatureStore(spark, str(tmp_path / "s"))
    t1, t2, t3 = T(2024, 1, 1), T(2024, 1, 2), T(2024, 1, 3)

    def df(rows):
        return spark.createDataFrame(rows, "key_id string, v double")

    for v, (rows, ts, close) in enumerate(
        [
            ([("a", 1.0), ("b", 2.0)], t1, True),
            ([("a", 1.0), ("c", 3.0)], t2, True),
            ([("d", 4.0)], t3, False),
        ],
        start=1,
    ):
        pstore.update_snapshot(df(rows), "ds.t", ts, close_absent=close)
        months = pstore._manifest_of("ds.t", v)["months"]
        assert list(months) == [NULL_MONTH]
        assert all(f"/{PARTITION_COL}={NULL_MONTH}/" in f for f in months[NULL_MONTH])

    def snap(ts):
        return {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", ts).collect()}

    assert snap(t1) == {"a": 1.0, "b": 2.0}
    assert snap(t2) == {"a": 1.0, "c": 3.0}
    assert snap(t3) == {"a": 1.0, "c": 3.0, "d": 4.0}


def test_marker_stores_each_packed_bin_once():
    """A file list shared by several months is written once, under
    ``bins``; a month's own list and a flat ``files`` list are written
    as they are, and decoding restores the manifest."""
    from diseasystore_spark.storage.scd2 import _decode_manifest, _encode_manifest

    bin_a, bin_b = ["_v2-a/__vc=o/p0.parquet"], ["_v3-b/__vc=c/p0.parquet"]
    man = {
        "version": 3,
        "dir": "_v3-b",
        "months": {
            "2020-01": bin_a,
            "2020-02": bin_a,
            "2020-03": ["_v1-c/__vm=2020-03/__vc=o/p0.parquet"],
            "2020-04": bin_b,
            "2020-05": bin_b,
        },
        "file_stats": {},
    }
    raw = json.loads(_encode_manifest(man))
    assert raw["bins"] == [bin_a, bin_b]
    assert raw["months"] == {
        "2020-01": 0,
        "2020-02": 0,
        "2020-03": man["months"]["2020-03"],
        "2020-04": 1,
        "2020-05": 1,
    }
    assert _decode_manifest(_encode_manifest(man)) == man
    for plain in (
        {"months": {"2020-01": bin_a, "2020-02": bin_b}, "file_stats": {}},
        {"files": bin_a + bin_b, "file_stats": {}},
    ):
        assert json.loads(_encode_manifest(plain)) == plain
        assert _decode_manifest(_encode_manifest(plain)) == plain


def test_bin_months_takes_only_date_valid_from(tmp_path):
    """A bin's months come off its footers only for a DATE
    ``valid_from``: TIMESTAMP footer values are UTC while a row's month
    is taken in the session time zone, so such a bin yields None (and
    the cold write lays it out per month in Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from diseasystore_spark.storage.scd2 import NULL_MONTH, _bin_months

    def footer(name, values, typ):
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"valid_from": pa.array(values, typ)}), path)
        return pq.read_metadata(path)

    dates = footer("d", [D(2020, 1, 31), None, D(2020, 3, 1)], pa.date32())
    assert _bin_months([dates]) == ["2020-01", "2020-02", "2020-03", NULL_MONTH]
    stamps = footer("t", [T(2020, 1, 31, 23), T(2020, 3, 1)], pa.timestamp("us"))
    assert _bin_months([stamps]) is None
    assert _bin_months([dates, stamps]) is None


def test_small_scoped_update_classifies_and_writes_in_one_pass(spark, pstore):
    """A scoped update of a table of at most ``_PACK_MAX_ROWS`` rows runs
    no census: one join classifies the scope closure's rows and the
    write observes what changed, so the merge starts at most 5 Spark
    jobs (the census merge started 9)."""
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    revised = [ROWS_V1[0], ("b", 9.0, D(2020, 2, 10), D(2020, 2, 20))]
    incoming = _df(spark, revised)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    job = scheduler.nextJobId()
    pstore.update_snapshot(
        incoming, "ds.t", t2, written_range=(D(2020, 1, 1), D(2020, 2, 28))
    )
    assert scheduler.nextJobId() - job <= 5
    months = pstore._manifest_of("ds.t", 2)["months"]
    assert sorted(months) == ["2020-01", "2020-02", "2020-03"]
    assert len({tuple(fs) for fs in months.values()}) == 1
    _assert_manifest_stats_sound(pstore, "ds.t")
    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "b": 9.0, "c": 3.0}
    snap1 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t1).collect()}
    assert snap1 == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert _each_row_once(pstore) == 4


def _segment_dirs(store):
    return sorted(
        d for d in os.listdir(store._table_dir("ds.t")) if d.startswith("_v")
    )


def test_abandoned_one_pass_merges_leave_no_segment(spark, pstore):
    """A one-pass merge writes before it knows whether anything
    changed: a no-op, and a clip-violating scoped merge that is redone
    unscoped, remove their uncommitted segment."""
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    before = _segment_dirs(pstore)

    pstore.update_snapshot(
        _df(spark, ROWS_V1[:2]), "ds.t", t2, written_range=(D(2020, 1, 1), D(2020, 2, 28))
    )
    assert pstore._current_version("ds.t") == 1
    assert _segment_dirs(pstore) == before

    violating = ROWS_V1[:2] + [("c", 9.0, D(2020, 3, 10), None)]
    pstore.update_snapshot(
        _df(spark, violating), "ds.t", t2, written_range=(D(2020, 1, 1), D(2020, 2, 28))
    )
    assert pstore._current_version("ds.t") == 2
    live = {pstore._manifest_of("ds.t", v)["dir"] for v in (1, 2)}
    assert set(_segment_dirs(pstore)) == live
    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "b": 2.0, "c": 9.0}


def test_one_pass_bin_grown_past_the_constant_is_laid_out_per_month(
    spark, pstore, monkeypatch
):
    """A one-pass merge does not know its row count before it writes:
    a bin whose footers count more than ``_PACK_MAX_ROWS`` rows is
    re-laid out per month, and its first pass is removed."""
    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 4)
    t1, t2 = T(2024, 1, 1), T(2024, 1, 2)
    pstore.update_snapshot(_df(spark, ROWS_V1), "ds.t", t1)
    grown = ROWS_V1[:2] + [
        (k, 5.0, D(2020, 2, 11), None) for k in ("d", "e", "f")
    ]
    pstore.update_snapshot(
        _df(spark, grown), "ds.t", t2, written_range=(D(2020, 1, 1), D(2020, 2, 28))
    )
    man = pstore._manifest_of("ds.t", 2)
    assert sorted(man["months"]) == ["2020-01", "2020-02", "2020-03"]
    for m, fs in man["months"].items():
        assert all(f"/{PARTITION_COL}={m}/" in f for f in fs), (m, fs)
    live = {pstore._manifest_of("ds.t", v)["dir"] for v in (1, 2)}
    assert set(_segment_dirs(pstore)) == live
    _assert_manifest_stats_sound(pstore, "ds.t")
    snap2 = {r["key_id"]: r["v"] for r in pstore.get_table("ds.t", t2).collect()}
    assert snap2 == {"a": 1.0, "b": 2.0, "c": 3.0, "d": 5.0, "e": 5.0, "f": 5.0}
