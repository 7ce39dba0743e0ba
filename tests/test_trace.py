"""The engine phase tracer (``diseasystore_spark/trace.py``): free when
off, exact per-thread job accounting when on, and the caller's Spark
job group left as it was."""

from __future__ import annotations

import datetime
import sys
import threading

import py4j.clientserver

from diseasystore_spark import trace
from diseasystore_spark.operators.interlace import width_from_stats
from diseasystore_spark.storage.scd2 import ParquetFeatureStore

GROUP, DESCRIPTION = "spark.jobGroup.id", "spark.job.description"


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_phase_outside_collect_sends_no_py4j_commands(spark, monkeypatch):
    def off():
        with trace.phase("store.get_feature", feature="n_x"):
            with trace.phase("store.read"):
                trace.note(bucket_days=3, n=10)

    off()  # warm: imports
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    off()
    assert sent[0] == 0


def test_nested_phases_record_parent_child_and_exact_jobs(spark):
    with trace.collect() as records:
        j0 = _next_job(spark)
        with trace.phase("outer", table="t"):
            spark.range(100).repartition(3).count()
            j1 = _next_job(spark)
            with trace.phase("inner"):
                spark.range(10).collect()
                spark.range(10).collect()
            j2 = _next_job(spark)
        j3 = _next_job(spark)
    outer, inner = records
    assert (outer.path, inner.path) == ("outer", "outer/inner")
    assert (inner.name, inner.parent) == ("inner", "outer")
    assert outer.info == {"table": "t"}
    assert outer.jobs == j3 - j0 and inner.jobs == j2 - j1
    assert outer.job_ids == set(range(j0, j3))
    assert inner.stages.keys() <= outer.stages.keys()
    assert outer.total("tasks") > inner.total("tasks") > 0
    assert outer.wall_s >= inner.wall_s > 0


def test_threads_in_one_scope_count_only_their_own_jobs(spark):
    """Eight threads (more than the cores) under one carried parent
    phase, with a short switch interval: each counts exactly its own
    jobs, and the parent gets every child's job once."""
    j0 = _next_job(spark)
    spark.range(10).collect()
    per_action = _next_job(spark) - j0
    n_threads = 8
    barrier = threading.Barrier(n_threads)

    def work(actions: int) -> None:
        with trace.phase(f"t{actions}"):
            barrier.wait(timeout=60)
            for _ in range(actions):
                spark.range(10).collect()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with trace.collect() as records:
            with trace.phase("parent"):
                j0 = _next_job(spark)
                threads = [
                    threading.Thread(target=trace.carry(work), args=(n,))
                    for n in range(1, n_threads + 1)
                ]
                for t in threads:
                    t.start()
                for t in threads:
                    t.join(timeout=120)
                j1 = _next_job(spark)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    parent, *children = records
    assert len(children) == n_threads
    for child in children:
        assert child.parent == "parent"
        assert child.jobs == int(child.name[1:]) * per_action
    assert sum(c.jobs for c in children) == j1 - j0
    assert parent.job_ids == set().union(*(c.job_ids for c in children))
    assert parent.job_ids == set(range(j0, j1))


def test_phase_restores_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setLocalProperty(GROUP, "caller")
    sc.setLocalProperty(DESCRIPTION, "caller's description")
    try:
        with trace.collect():
            with trace.phase("outer"):
                with trace.phase("inner"):
                    assert sc.getLocalProperty(DESCRIPTION) == "outer/inner"
                assert sc.getLocalProperty(DESCRIPTION) == "outer"
                assert sc.getLocalProperty(GROUP).startswith("diseasystore:outer:")
        assert sc.getLocalProperty(GROUP) == "caller"
        assert sc.getLocalProperty(DESCRIPTION) == "caller's description"
    finally:
        sc.setLocalProperty(GROUP, None)
        sc.setLocalProperty(DESCRIPTION, None)
    with trace.collect():
        with trace.phase("unset"):
            pass
    assert sc.getLocalProperty(GROUP) is None
    assert sc.getLocalProperty(DESCRIPTION) is None


def test_cold_write_and_scoped_update_are_different_phases(spark, store_root):
    be = ParquetFeatureStore(spark, store_root)
    schema = "key_id string, v double, valid_from date, valid_until date"
    d = datetime.date(2024, 1, 1)
    rows = [("a", 1.0, d, None), ("b", 2.0, d, None)]
    with trace.collect() as records:
        be.update_snapshot(
            spark.createDataFrame(rows, schema), "ds.t", datetime.date(2024, 2, 1)
        )
        be.update_snapshot(
            spark.createDataFrame(rows[:1] + [("c", 3.0, d, None)], schema),
            "ds.t",
            datetime.date(2024, 3, 1),
            written_range=(d, d),
        )
    paths = [r.path for r in records]
    assert [p for p in paths if "/" not in p] == ["scd2.cold_write", "scd2.merge"]
    for top in ("scd2.cold_write", "scd2.merge"):
        assert {p.partition("/")[2] for p in paths if p.startswith(top + "/")} >= {
            "scd2.segment_write",
            "scd2.footer_stats",
            "scd2.commit",
        }
    merge = records[paths.index("scd2.merge")]
    commit = records[paths.index("scd2.merge/scd2.commit")]
    assert merge.info == {"table": "ds.t", "scoped": True}
    assert commit.info["version"] == 2 and commit.info["files_added"] >= 1
    assert merge.jobs >= 1


def test_auto_decision_is_noted_on_the_open_phase():
    with trace.collect() as records:
        with trace.phase("key_join.interlace"):
            width = width_from_stats(100_000, 2, 1_000, 3.0)
        trace.note(dropped=True)  # no phase open: nothing to attach to
    (rec,) = records
    assert width is not None
    assert rec.info == {"bucket_days": width, "n": 100_000, "k": 2, "span_days": 1_000}
