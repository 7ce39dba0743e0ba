"""Diseasystore base-class behaviors mirroring
``tests/testthat/test-DiseasystoreBase.R`` and the error paths of
``R/DiseasystoreBase.R``."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from diseasystore_spark import (
    Diseasystore,
    FeatureHandler,
    diseasyoption,
    drop_diseasystore,
    key_join_count,
    key_join_sum,
    set_diseasyoption,
)

D = datetime.date
TODAY = D(2024, 6, 1)


def _feature_df(spark, value_col, offset):
    rows = []
    for i in range(1, 33):
        vf = TODAY - datetime.timedelta(days=2 * i - offset)
        rows.append(
            {
                "key_car": f"car_{i}",
                value_col: float([4, 6, 8][i % 3]),
                "valid_from": vf,
                "valid_until": vf + datetime.timedelta(days=2),
            }
        )
    pdf = pd.DataFrame(rows)
    sdf = spark.createDataFrame(pdf)
    return sdf.withColumns(
        {
            "valid_from": sdf["valid_from"].cast("date"),
            "valid_until": sdf["valid_until"].cast("date"),
        }
    )


class DummyStore(Diseasystore):
    _ds_map = {"n_cyl": "dummy_cyl", "vs": "dummy_vs"}

    dummy_cyl = FeatureHandler(
        compute=lambda start_date, end_date, slice_ts, source_conn, ds: (
            _feature_df(ds.spark, "n_cyl", 1)
        ),
        key_join=key_join_sum,
    )
    dummy_vs = FeatureHandler(
        compute=lambda start_date, end_date, slice_ts, source_conn, ds: (
            _feature_df(ds.spark, "vs", 0)
        ),
        key_join=key_join_count,  # deliberately different from n_cyl
    )


class ChildStore(DummyStore):
    _ds_map = {"n_extra": "dummy_cyl"}


@pytest.fixture()
def store(spark, tmp_path):
    return DummyStore(
        spark,
        target_conn=str(tmp_path / "store"),
        source_conn="x",
        slice_ts=TODAY,
        verbose=False,
    )


def test_constructor_requires_target_conn(spark):
    with pytest.raises(ValueError, match="target_conn option not defined"):
        DummyStore(spark, target_conn=None, source_conn="x")


def test_ds_map_inheritance(spark, tmp_path):
    ds = ChildStore(
        spark, target_conn=str(tmp_path / "c"), source_conn="x", verbose=False
    )
    assert ds.ds_map == {
        "n_cyl": "dummy_cyl",
        "vs": "dummy_vs",
        "n_extra": "dummy_cyl",
    }
    assert set(ds.available_observables) == {"n_cyl", "n_extra"}
    assert ds.available_stratifications == ["vs"]


def test_option_precedence():
    set_diseasyoption("myopt", "global")
    assert diseasyoption("myopt") == "global"
    set_diseasyoption("myopt", "classy", scope="DummyStore")
    assert diseasyoption("myopt", scope=DummyStore) == "classy"
    assert diseasyoption("myopt", scope="OtherClass") == "global"
    # empty string treated as unset (R/0_R6_utils.R:141-148)
    set_diseasyoption("myopt", "", scope="DummyStore")
    assert diseasyoption("myopt", scope=DummyStore) == "global"


def test_aggregator_mismatch_errors(store):
    start, end = TODAY - datetime.timedelta(days=20), TODAY
    with pytest.raises(ValueError, match="does not match observable aggregator"):
        store.key_join_features("n_cyl", ["vs"], start, end)


def test_stratify_by_observable_errors(store):
    start, end = TODAY - datetime.timedelta(days=20), TODAY
    with pytest.raises(ValueError, match="cannot be observables"):
        store.key_join_features("n_cyl", {"n_cyl": "n_cyl"}, start, end)


def test_collision_warning(store):
    start, end = TODAY - datetime.timedelta(days=10), TODAY
    with pytest.warns(UserWarning, match="already stratified by"):
        out = store.key_join_features(
            "n_cyl", {"key_car": "upper(key_car)"}, start, end
        )
        out.count()


def test_unknown_stratification_column_message(store):
    start, end = TODAY - datetime.timedelta(days=10), TODAY
    with pytest.raises(ValueError, match="Available stratification variables"):
        store.key_join_features("n_cyl", {"bad": "nope + 1"}, start, end)


def test_min_max_date_bounds(spark, tmp_path):
    class Bounded(DummyStore):
        _min_start_date = D(2024, 1, 1)
        _max_end_date = D(2024, 12, 31)

    ds = Bounded(
        spark, target_conn=str(tmp_path / "b"), source_conn="x", verbose=False
    )
    with pytest.raises(ValueError, match="before min_start_date"):
        ds.get_feature("n_cyl", D(2023, 1, 1), D(2024, 2, 1))
    with pytest.raises(ValueError, match="after max_end_date"):
        ds.get_feature("n_cyl", D(2024, 2, 1), D(2025, 2, 1))


def test_drop_diseasystore_pattern(store):
    start, end = TODAY - datetime.timedelta(days=10), TODAY
    store.get_feature("n_cyl", start, end)
    store.get_feature("vs", start, end)
    be = store.backend
    assert set(be.list_tables("ds")) == {"ds.dummy_cyl", "ds.dummy_vs", "ds.logs"}

    drop_diseasystore(be, pattern="dummy_cyl", schema="ds")
    assert set(be.list_tables("ds")) == {"ds.dummy_vs", "ds.logs"}
    # log rows for the dropped table are deleted; vs rows remain
    logs = be.read_logs_pandas("ds")
    assert set(logs["table"]) == {"dummy_vs"}

    with pytest.raises(ValueError, match="entire feature store"):
        drop_diseasystore(be, pattern="logs", schema="ds")

    drop_diseasystore(be, schema="ds")
    assert be.list_tables("ds") == []


def test_read_logs_reads_each_log_file_once(store, monkeypatch):
    """Log files are immutable and uuid-named, so a store reads each one
    once: a repeat read opens no file, an append makes the next read
    open one, and a ``delete_logs_for`` rewrite is picked up by name."""
    import pyarrow.parquet as pq

    be = store.backend
    reads = []
    read_table = pq.read_table

    def counting(path, *args, **kwargs):
        reads.append(path)
        return read_table(path, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting)
    ts = datetime.datetime(2024, 6, 1)
    be.append_log("ds", "ds.dummy_cyl", ts, "a", True)
    be.append_log("ds", "ds.dummy_vs", ts, "b", True)
    assert sorted(be.read_logs_pandas("ds")["message"]) == ["a", "b"]
    assert len(reads) == 2
    reads.clear()
    assert sorted(be.read_logs_pandas("ds")["message"]) == ["a", "b"]
    assert reads == []
    be.append_log("ds", "ds.dummy_vs", ts, "c", True)
    assert sorted(be.read_logs_pandas("ds")["message"]) == ["a", "b", "c"]
    assert len(reads) == 1
    be.delete_logs_for("ds", ["ds.dummy_cyl"])
    reads.clear()
    logs = be.read_logs_pandas("ds")
    assert sorted(logs["message"]) == ["b", "c"] and set(logs["table"]) == {"dummy_vs"}
    assert len(reads) == 1
    fresh = type(be)(be.spark, be.root).read_logs_pandas("ds")
    assert sorted(fresh["message"]) == ["b", "c"]
    be.delete_logs_for("ds", ["ds.dummy_vs"])
    assert be.read_logs_pandas("ds").empty


def test_read_logs_under_concurrent_appends(store):
    """Threads appending and reading one schema's log through one store
    (as the conformance matrix's workers do) each see every row they
    appended, whatever the interleaving of the cached reads."""
    import concurrent.futures
    import sys

    be = store.backend
    ts = datetime.datetime(2024, 6, 1)

    def worker(i):
        for j in range(10):
            be.append_log("ds", f"ds.t{i}", ts, f"{i}-{j}", True)
            seen = set(be.read_logs_pandas("ds")["message"])
            assert {f"{i}-{k}" for k in range(j + 1)} <= seen

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with concurrent.futures.ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(worker, i) for i in range(8)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert len(be.read_logs_pandas("ds")) == 80


def test_slice_ts_type_polymorphism(spark, tmp_path):
    """The engine accepts Date / datetime / ISO strings for slice_ts
    and treats equal instants as the same slice, including mixed types
    across calls (``test-DiseasystoreBase.R:193-295``)."""
    ds = DummyStore(
        spark,
        target_conn=str(tmp_path / "poly"),
        source_conn="x",
        slice_ts=TODAY,
        verbose=False,
    )
    table = "ds.dummy_cyl"
    start, end = TODAY - datetime.timedelta(days=4), TODAY
    slice_variants = [
        TODAY,                                  # date
        str(TODAY),                             # "YYYY-MM-DD"
        datetime.datetime.combine(TODAY, datetime.time()),  # datetime
        f"{TODAY} 00:00:00",                    # "YYYY-MM-DD HH:MM:SS"
    ]
    ds.get_feature("n_cyl", start, end, slice_ts=slice_variants[0])
    logs_after_first = ds.backend.read_logs_pandas("ds")
    for ts in slice_variants[1:]:
        # all variants hit the same memoized slice: no new ranges
        assert ds.determine_missing_ranges(table, start, end, ts) == []
        ds.get_feature("n_cyl", start, end, slice_ts=ts)
    assert len(ds.backend.read_logs_pandas("ds")) == len(logs_after_first)
    # a genuinely different instant is a different slice
    later = f"{TODAY} 09:00:00"
    assert ds.determine_missing_ranges(table, start, end, later) == [
        (start, end)
    ]


def test_verbosity_messages(spark, tmp_path, capsys):
    """Message parity (``tests/testthat/test-DiseasystoreBase.R:148-190``):
    first call announces the computation; a second identical call is
    silent (memoized)."""
    ds = DummyStore(
        spark,
        target_conn=str(tmp_path / "v"),
        source_conn="x",
        slice_ts=TODAY,
        verbose=True,
    )
    start, end = TODAY - datetime.timedelta(days=5), TODAY
    ds.get_feature("n_cyl", start, end).count()
    out = capsys.readouterr().out
    assert "feature: n_cyl needs to be computed on the specified date int" in out
    ds.get_feature("n_cyl", start, end).count()
    out2 = capsys.readouterr().out
    assert "needs to be computed" not in out2


def test_get_feature_unordered_defaults(store):
    """get_feature without explicit dates uses instance defaults; no
    defaults configured -> error."""
    with pytest.raises(ValueError, match="start_date and end_date"):
        store.get_feature("n_cyl")


def test_partitioned_engine_matches_unpartitioned(spark, tmp_path):
    """The month-partitioned backend's range-scoped merges must be
    observationally identical to the unscoped full-compare backend
    across multi-slice flows, including a backward extension (backfill
    of an earlier gap) and a sub-range write at a brand-new slice_ts."""

    def mk(start, end):
        rows, d, i = [], D(2020, 1, 1), 0
        while d <= D(2020, 12, 1):
            rows.append(
                {
                    "key_car": f"p{i % 5}",
                    "n_cyl": float(i % 4 + 1),
                    "valid_from": d,
                    "valid_until": D(d.year, d.month, 25),
                }
            )
            d = (d.replace(day=1) + datetime.timedelta(days=32)).replace(day=1)
            i += 1
        pdf = pd.DataFrame(rows)
        sdf = spark.createDataFrame(pdf)
        return sdf.withColumns(
            {
                "valid_from": sdf["valid_from"].cast("date"),
                "valid_until": sdf["valid_until"].cast("date"),
            }
        ).where(
            (F.col("valid_from") <= F.lit(end))
            & (F.col("valid_until") > F.lit(start))
        )

    class Span(Diseasystore):
        _ds_map = {"n_cyl": "span_cyl"}
        span_cyl = FeatureHandler(
            compute=lambda start_date, end_date, slice_ts, source_conn, ds: mk(
                start_date, end_date
            ),
            key_join=key_join_sum,
        )

    s1, s2 = D(2021, 1, 1), D(2021, 2, 1)
    flows = [
        ("mid", D(2020, 5, 1), D(2020, 7, 31), s1),  # fresh middle range
        ("back", D(2020, 1, 1), D(2020, 3, 31), s1),  # backward extension
        ("fwd", D(2020, 1, 1), D(2020, 12, 31), s1),  # forward fill
        ("newslice", D(2020, 2, 1), D(2020, 4, 30), s2),  # sub-range, new slice
        ("full2", D(2020, 1, 1), D(2020, 12, 31), s2),
        ("full1", D(2020, 1, 1), D(2020, 12, 31), s1),  # s1 isolation
    ]
    results = {}
    for gran in (None, "month"):
        ds = Span(
            spark,
            target_conn=str(tmp_path / f"span_{gran}"),
            source_conn="x",
            verbose=False,
            partition_granularity=gran,
        )
        for name, a, b, ts in flows:
            rows = sorted(
                map(
                    tuple,
                    ds.get_feature("n_cyl", a, b, slice_ts=ts).collect(),
                )
            )
            results.setdefault(name, []).append(rows)
    for name, (plain, monthly) in results.items():
        assert plain == monthly, f"flow {name!r} diverged"
        assert len(plain) > 0


def test_flat_reinclude_boundary_matches_partitioned(spark, tmp_path):
    """ADVICE r10: a row whose ``valid_from`` equals the range_end of
    a later sub-range recompute IS in the recompute's scope (the
    overlap clip is end-inclusive), so when the recompute no longer
    produces its checksum BOTH backends must close it at the new
    slice. The flat re-include previously kept ``valid_from >=
    range_end`` rows open forever — at exactly the boundary it
    diverged from the scoped merge (which closes it) and left a
    duplicate: the stale row AND its recomputed replacement both
    current at the new slice."""

    def mk(start, end, slice_ts):
        # values depend on the slice so a recompute at s2 changes
        # every checksum inside the recomputed range
        bump = 10.0 if str(slice_ts).startswith("2021-02") else 0.0
        rows, d, i = [], D(2020, 1, 1), 0
        while d <= D(2020, 12, 1):
            rows.append(
                {
                    "key_car": f"p{i % 5}",
                    "n_cyl": float(i % 4 + 1) + bump,
                    "valid_from": d,
                    "valid_until": D(d.year, d.month, 25),
                }
            )
            d = (d.replace(day=1) + datetime.timedelta(days=32)).replace(day=1)
            i += 1
        sdf = spark.createDataFrame(pd.DataFrame(rows))
        return sdf.withColumns(
            {
                "valid_from": sdf["valid_from"].cast("date"),
                "valid_until": sdf["valid_until"].cast("date"),
            }
        ).where(
            (F.col("valid_from") <= F.lit(end))
            & (F.col("valid_until") > F.lit(start))
        )

    class Span(Diseasystore):
        _ds_map = {"n_cyl": "span_cyl"}
        span_cyl = FeatureHandler(
            compute=lambda start_date, end_date, slice_ts, source_conn, ds: mk(
                start_date, end_date, slice_ts
            ),
            key_join=key_join_sum,
        )

    s1, s2 = D(2021, 1, 1), D(2021, 2, 1)
    flows = [
        ("full1", D(2020, 1, 1), D(2020, 12, 31), s1),
        # range_end == valid_from of the May row: the boundary case
        ("sub2", D(2020, 2, 1), D(2020, 5, 1), s2),
        ("full2", D(2020, 1, 1), D(2020, 12, 31), s2),
        ("full1b", D(2020, 1, 1), D(2020, 12, 31), s1),  # s1 isolation
    ]
    results = {}
    for gran in (None, "month"):
        ds = Span(
            spark,
            target_conn=str(tmp_path / f"bnd_{gran}"),
            source_conn="x",
            verbose=False,
            partition_granularity=gran,
        )
        for name, a, b, ts in flows:
            rows = sorted(
                map(
                    tuple,
                    ds.get_feature("n_cyl", a, b, slice_ts=ts).collect(),
                )
            )
            results.setdefault(name, []).append(rows)
    for name, (plain, monthly) in results.items():
        assert plain == monthly, f"flow {name!r} diverged"
        assert len(plain) > 0
    # the boundary (May 1) row at s2 is the RECOMPUTED one, exactly once
    may = [r for r in results["full2"][0] if r[2] == D(2020, 5, 1)]
    assert len(may) == 1
    assert may[0][1] == 11.0  # bumped value, stale 1.0 closed
    # and at s1 it is still the original
    may1 = [r for r in results["full1b"][0] if r[2] == D(2020, 5, 1)]
    assert len(may1) == 1 and may1[0][1] == 1.0


class SumStore(DummyStore):
    """Both features on the sum aggregator so key_join works."""

    dummy_vs = FeatureHandler(
        compute=lambda start_date, end_date, slice_ts, source_conn, ds: (
            _feature_df(ds.spark, "vs", 0)
        ),
        key_join=key_join_sum,
    )


def test_interlace_bucket_days_option_wires_through(spark, tmp_path):
    """The ``interlace_bucket_days`` scoped option must switch
    ``key_join_features`` to the bucketed range-join path without
    changing results."""
    start, end = TODAY - datetime.timedelta(days=20), TODAY

    def run(root):
        ds = SumStore(
            spark, target_conn=root, source_conn="x",
            slice_ts=TODAY, verbose=False,
        )
        out = (
            ds.key_join_features("n_cyl", ["vs"], start, end)
            .orderBy("date", "vs")
            .collect()
        )
        ds.release_cached_plans()
        return [tuple(r) for r in out]

    plain = run(str(tmp_path / "plain"))
    set_diseasyoption("interlace_bucket_days", 7, scope="SumStore")
    try:
        bucketed = run(str(tmp_path / "bucketed"))
    finally:
        set_diseasyoption("interlace_bucket_days", "", scope="SumStore")
    assert plain == bucketed and len(plain) > 0


def test_write_time_stats_drive_bucket_decision(spark, tmp_path):
    """Every version write persists _STATS.json (the ANALYZE analog);
    table_stats() reads it; width_from_stats turns it into the
    interlace bucketing decision with zero query-time jobs."""
    from diseasystore_spark.operators.interlace import width_from_stats

    ds = SumStore(
        spark, target_conn=str(tmp_path / "s"), source_conn="x",
        slice_ts=TODAY, verbose=False,
    )
    start, end = TODAY - datetime.timedelta(days=120), TODAY
    ds.get_feature("n_cyl", start, end)
    st = ds.backend.table_stats("ds.dummy_cyl")
    assert st is not None
    assert st["n"] == 32 and 1 <= st["k"] <= 40
    assert st["span_days"] >= 1 and st["avg_span"] == pytest.approx(2.0)
    # the fixture's 32 rows over 32 keys -> plain path
    assert (
        width_from_stats(
            st["n"], st["k"], st["span_days"], st["avg_span"], 2000.0
        )
        is None
    )
    # a hot-key profile at scale -> bucketed with a bounded width
    w = width_from_stats(10_000_000, 5, 3650, 3.0, 2000.0)
    assert isinstance(w, int) and 1 <= w <= 3650
    # unknown table -> no stats
    assert ds.backend.table_stats("ds.nope") is None
    ds.release_cached_plans()


def test_get_feature_narrow_window_prunes_closed_history(
    spark, tmp_path, monkeypatch
):
    """Round-10 lower-bound pruning through the ENGINE path: after a
    full-year materialization of short-lived rows, a one-month
    get_feature window hands the scanner only the months whose
    validity stats can overlap the window — history months whose
    every row closed earlier are pruned at the manifest, and the
    result is identical to clipping the full read."""
    from diseasystore_spark.storage.scd2 import (
        PARTITION_COL,
        ParquetFeatureStore,
    )

    monkeypatch.setattr(ParquetFeatureStore, "_PACK_MAX_ROWS", 0)

    def mk(start, end):
        rows = []
        d = D(2020, 1, 1)
        i = 0
        while d <= D(2020, 12, 1):
            rows.append(
                ("p%d" % (i % 5), float(i % 4 + 1), d, D(d.year, d.month, 25))
            )
            d = (d.replace(day=1) + datetime.timedelta(days=32)).replace(day=1)
            i += 1
        df = spark.createDataFrame(
            rows, "key_car string, n_cyl double, valid_from date, valid_until date"
        )
        return df.where(
            (F.col("valid_from") <= F.lit(end))
            & (F.col("valid_until") > F.lit(start))
        )

    class SpanStore(Diseasystore):
        _ds_map = {"n_cyl": "span_cyl"}
        span_cyl = FeatureHandler(
            compute=lambda start_date, end_date, slice_ts, source_conn, ds: mk(
                start_date, end_date
            ),
            key_join=key_join_sum,
        )

    ds = SpanStore(
        spark,
        target_conn=str(tmp_path / "span"),
        source_conn="x",
        slice_ts=D(2021, 1, 1),
        verbose=False,
        partition_granularity="month",
    )
    full = ds.get_feature("n_cyl", D(2020, 1, 1), D(2020, 12, 31))
    assert full.count() == 12

    window = ds.get_feature("n_cyl", D(2020, 11, 1), D(2020, 11, 30))
    months = {
        p.split(f"{PARTITION_COL}=")[1].split("/")[0]
        for p in window.inputFiles()
    }
    # rows close on the 25th of their own month: only November can
    # overlap the window (October's rows closed Oct 25 < Nov 1);
    # months after the window are upper-bound pruned as before
    assert months == {"2020-11"}, months
    got = sorted(map(tuple, window.collect()))
    want = sorted(
        map(
            tuple,
            full.where(
                (F.col("valid_from") <= F.lit(D(2020, 11, 30)))
                & (F.col("valid_until") > F.lit(D(2020, 11, 1)))
            ).collect(),
        )
    )
    assert got == want and len(got) == 1
