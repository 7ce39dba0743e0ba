"""Driver-side build cost of registry queries, in Py4J round trips.

Building a query sends its Catalyst tree to the JVM over Py4J, one
command per Column call (plus PySpark's own bookkeeping). That cost is
paid before any Spark job runs, so plan and value tests never see it.
These tests pin the command count of a *warm* build (the second call,
after store and checkpoint set-up) so a change that goes back to
per-node Column building, or re-enables per-call origin capture,
fails here.
"""

from __future__ import annotations

import gc

import py4j.clientserver

from diseasystore_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _warm_build_commands(spark, monkeypatch, name: str) -> int:
    fn = QUERIES[name]
    fn(spark, SF)  # cold: store writes, checkpoints, class loading
    gc.collect()
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(
            py4j.clientserver.ClientServerConnection, "send_command", counting
        )
        fn(spark, SF)
    return sent[0]


def test_get_spark_turns_origin_capture_off(spark):
    """Every ``get_spark`` session (the ``spark`` fixture is one) runs
    with PySpark's per-Column-call origin capture off (about six round
    trips per expression node with it on)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_warm_q23_build_is_a_few_hundred_commands(spark, monkeypatch):
    """q23 (MinHash LSH) builds its signature aggregate, band explode
    and first-band CASE as one SQL expression each: ~330 commands,
    against ~4,300 with per-node Column building and origin capture."""
    n = _warm_build_commands(spark, monkeypatch, "q23_minhash_lsh")
    assert 0 < n <= 600, n


def test_warm_q02_build_stays_under_1100_commands(spark, monkeypatch):
    """q02 (engine read, interlace, delta count) runs no Spark job when
    built warm; all of its build is driver-JVM traffic: ~600-850
    commands, against ~1,550 with origin capture on."""
    n = _warm_build_commands(spark, monkeypatch, "q02_prevalence_by_nation")
    assert 0 < n <= 1100, n


def test_scd2_update_path_expressions_are_one_command_each(spark, monkeypatch):
    """The snapshot predicate, the row checksum and the month key sit on
    every SCD2 update and read; each is one SQL expression, so one
    ``F.expr`` call's few Py4J commands however wide the row (the
    Column-built checksum sent 231 over 13 columns)."""
    import datetime

    from diseasystore_spark.storage.scd2 import _month_key, _valid_at, row_checksum

    cols = [f"c{i}" for i in range(12)] + ["valid_from"]
    ts = datetime.datetime(2024, 1, 1)
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    for build in (lambda: _valid_at(ts), lambda: row_checksum(cols), lambda: _month_key(cols)):
        build()  # warm: class and method lookups
        sent[0] = 0
        with monkeypatch.context() as m:
            m.setattr(
                py4j.clientserver.ClientServerConnection, "send_command", counting
            )
            build()
        assert sent[0] <= 3


def test_study_period_clamps_are_one_expression_each(spark, monkeypatch):
    """The study-period overlap filter and clamp sit on every
    ``get_feature`` and ``key_join_features`` (q02 builds them three
    times). With date bounds each bound expression is one SQL expression
    whose analyzed plan equals the Column form's (built from the public
    ``case_max``/``case_min``): the Column forms sent 24 and 48 commands."""
    import datetime
    import re

    from pyspark.sql import functions as F

    from diseasystore_spark.functions.intervals import (
        case_max,
        case_min,
        clamp_to_study_period,
        overlaps_study_period,
    )

    df = spark.sql(
        "SELECT 1 AS k, DATE'2020-01-05' AS valid_from, "
        "CAST(NULL AS DATE) AS valid_until"
    )

    def column_clamp(a, b):
        a, b = F.lit(a), F.lit(b)
        return df.withColumns(
            {
                "valid_from": case_max(F.col("valid_from"), a),
                "valid_until": F.coalesce(case_min(F.col("valid_until"), b), b),
            }
        )

    def column_overlaps(a, b):
        return df.where(
            (F.col("valid_from") <= F.lit(b))
            & ((F.col("valid_until") > F.lit(a)) | F.col("valid_until").isNull())
        )

    def analyzed(frame):
        return re.sub(r"#\d+L?", "", frame._jdf.queryExecution().analyzed().toString())

    for a, b in (
        (datetime.date(2020, 1, 1), datetime.date(2020, 2, 1)),
        (datetime.datetime(2020, 1, 1, 5), datetime.datetime(2020, 2, 1)),
    ):
        assert analyzed(clamp_to_study_period(df, a, b)) == analyzed(column_clamp(a, b))
        assert analyzed(df.where(overlaps_study_period(a, b))) == analyzed(
            column_overlaps(a, b)
        )

    a, b = datetime.date(2020, 1, 1), datetime.date(2020, 2, 1)
    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += 1
        return send(self, command)

    for build, cap in (
        (lambda: overlaps_study_period(a, b), 3),
        (lambda: clamp_to_study_period(df, a, b), 20),
    ):
        build()
        sent[0] = 0
        with monkeypatch.context() as m:
            m.setattr(
                py4j.clientserver.ClientServerConnection, "send_command", counting
            )
            build()
        assert sent[0] <= cap, sent[0]
