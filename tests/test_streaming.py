"""Structured Streaming ingest through the SCD2 store."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from diseasystore_spark.storage.scd2 import ParquetFeatureStore
from diseasystore_spark.streaming.ingest import (
    stream_feature_updates,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    from diseasystore_spark.queries import _read

    return _read(spark, SF, "events")


def test_windowed_counts_batch_equals_groupby(spark):
    events = _events(spark)
    windowed = windowed_event_counts(events, "1 day").collect()
    direct = (
        events.groupBy(
            F.col("ts").cast("date").alias("d"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    w = {(r["valid_from"], r["key_event_type"]): r["n_events"] for r in windowed}
    d = {(r["d"], r["event_type"]): float(r["n"]) for r in direct}
    assert w == d


def test_stream_ingest_scd2(spark, tmp_path):
    events = _events(spark)
    # Write events as parquet stream source input
    src = str(tmp_path / "stream_src")
    events.limit(200).write.parquet(src)
    backend = ParquetFeatureStore(spark, str(tmp_path / "store"))

    stream = (
        spark.readStream.schema(events.schema)
        .parquet(src)
    )
    q = stream_feature_updates(
        stream,
        backend,
        "ds.stream_counts",
        transform=lambda df: windowed_event_counts(df, "1 day"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    stored = backend.get_table(
        "ds.stream_counts", datetime.datetime(2024, 1, 1, 0, 1)
    )
    rows = stored.collect()
    assert len(rows) > 0
    assert set(stored.columns) == {
        "key_event_type",
        "n_events",
        "valid_from",
        "valid_until",
    }
    # idempotent replay: merging the same batch again changes nothing
    v_before = backend._current_version("ds.stream_counts")
    batch = windowed_event_counts(spark.read.parquet(src), "1 day")
    backend.update_snapshot(
        batch, "ds.stream_counts", datetime.datetime(2024, 1, 1)
    )
    after = backend.get_table(
        "ds.stream_counts", datetime.datetime(2024, 1, 1, 0, 1)
    ).count()
    assert after == len(rows)
    # a merge that changes nothing commits no version
    assert backend._current_version("ds.stream_counts") == v_before


def test_stream_ingest_event_time_slice_ts(spark, tmp_path):
    """With event_ts_col, each batch merges at its event-time
    high-water mark: snapshots before the data's max event time are
    empty, snapshots at/after it see the rows — and the slice is
    replay-deterministic (derived from data, not wall clock)."""
    events = _events(spark)
    src = str(tmp_path / "stream_src")
    events.limit(200).write.parquet(src)
    hwm = (
        spark.read.parquet(src).agg(F.max("ts")).first()[0]
    )
    backend = ParquetFeatureStore(spark, str(tmp_path / "store"))

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = stream_feature_updates(
        stream,
        backend,
        "ds.stream_evt",
        transform=lambda df: windowed_event_counts(df, "1 day"),
        event_ts_col="ts",
        checkpoint_dir=str(tmp_path / "ckpt_evt"),
        available_now=True,
    )
    q.awaitTermination(120)

    before = backend.get_table(
        "ds.stream_evt", hwm - datetime.timedelta(seconds=1)
    ).count()
    at = backend.get_table("ds.stream_evt", hwm).count()
    assert before == 0
    assert at > 0

def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions spanning
    micro-batch boundaries must equal the batch formulation's closed
    sessions (a session is closed once a later same-user event proves
    the gap)."""
    from diseasystore_spark.streaming.stateful import sessionize_stream

    TS = datetime.datetime
    rows = []
    # user 1: three sessions; user 2: one long session crossing the
    # file/batch split; user 3: single event (stays open, never emitted)
    for i, (u, t) in enumerate(
        [
            (1, TS(2024, 1, 1, 10, 0)),
            (1, TS(2024, 1, 1, 10, 10)),   # same session
            (1, TS(2024, 1, 1, 12, 0)),    # gap -> closes s1
            (2, TS(2024, 1, 1, 10, 0)),
            # ---- file split ----
            (2, TS(2024, 1, 1, 10, 20)),   # extends across batches
            (1, TS(2024, 1, 1, 15, 0)),    # gap -> closes s2
            (3, TS(2024, 1, 1, 11, 0)),
            (2, TS(2024, 1, 1, 13, 0)),    # gap -> closes user2 s1
        ]
    ):
        rows.append((u, t, i))
    pdf_cols = "user_id long, ts timestamp, event_id long"
    src = str(tmp_path / "sess_src")
    first = spark.createDataFrame(rows[:4], pdf_cols)
    second = spark.createDataFrame(rows[4:], pdf_cols)
    first.coalesce(1).write.parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    closed = {
        (1, TS(2024, 1, 1, 10, 0), TS(2024, 1, 1, 10, 10), 2),
        (1, TS(2024, 1, 1, 12, 0), TS(2024, 1, 1, 12, 0), 1),
        (2, TS(2024, 1, 1, 10, 0), TS(2024, 1, 1, 10, 20), 2),
    }
    # closed sessions must all be emitted; open tails (user1@15:00,
    # user2@13:00, user3@11:00) may additionally appear iff the final
    # watermark passed their gap timeout — both are correct emissions.
    assert closed <= got
    open_tails = {
        (1, TS(2024, 1, 1, 15, 0), TS(2024, 1, 1, 15, 0), 1),
        (2, TS(2024, 1, 1, 13, 0), TS(2024, 1, 1, 13, 0), 1),
        (3, TS(2024, 1, 1, 11, 0), TS(2024, 1, 1, 11, 0), 1),
    }
    assert got - closed <= open_tails


def test_sessionize_stream_into_scd2_store(spark, tmp_path):
    """Full streaming -> store path: stateful sessionization feeding
    the SCD2 merge via foreachBatch, sessions landing as
    interval-valid feature rows queryable by slice_ts."""
    from diseasystore_spark.streaming.stateful import sessionize_stream
    from diseasystore_spark.streaming.ingest import stream_feature_updates

    TS = datetime.datetime
    rows = [
        (1, TS(2024, 1, 1, 10, 0), 0),
        (1, TS(2024, 1, 1, 10, 10), 1),
        (1, TS(2024, 1, 2, 12, 0), 2),   # closes session 1
        (2, TS(2024, 1, 1, 9, 0), 3),
        (2, TS(2024, 1, 3, 9, 0), 4),    # closes user2 session 1
    ]
    src = str(tmp_path / "s2s_src")
    events = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    events.coalesce(1).write.parquet(src)
    backend = ParquetFeatureStore(spark, str(tmp_path / "s2s_store"))

    stream = spark.readStream.schema(events.schema).parquet(src)
    sessions = sessionize_stream(stream, gap_seconds=1800)

    def to_feature(df):
        return df.select(
            F.col("user_id").cast("string").alias("key_user"),
            F.col("n_events").cast("double").alias("n_events"),
            F.col("session_start").cast("date").alias("valid_from"),
            F.date_add(F.col("session_end").cast("date"), 1).alias(
                "valid_until"
            ),
        )

    q = stream_feature_updates(
        sessions,
        backend,
        "ds.user_sessions",
        transform=to_feature,
        event_ts_col="session_end",
        checkpoint_dir=str(tmp_path / "s2s_ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    stored = backend.get_table("ds.user_sessions", TS(2024, 12, 31))
    got = {
        (r["key_user"], r["valid_from"], r["valid_until"], r["n_events"])
        for r in stored.collect()
    }
    # the two provably-closed sessions must be stored as features
    import datetime as dt

    assert (
        "1", dt.date(2024, 1, 1), dt.date(2024, 1, 2), 2.0
    ) in got
    assert (
        "2", dt.date(2024, 1, 1), dt.date(2024, 1, 2), 1.0
    ) in got
    # contract: half-open, date-typed, valid_from < valid_until
    assert all(vf < vu for _, vf, vu, _ in got)


def test_stream_dedup_against_corpus(spark, tmp_path):
    """Streaming screening must flag exactly what the batch operator
    flags: stream the 'new' 10% of documents in micro-batches against
    the static 90% corpus and compare with the direct batch join."""
    from diseasystore_spark.pipeline.dedup import minhash_lsh_join
    from diseasystore_spark.pipeline.sample import hash_split
    from diseasystore_spark.streaming.dedup_stream import (
        stream_dedup_against_corpus,
    )

    docs = hash_split(
        spark.read.parquet(f"{SF}/documents.parquet"),
        "doc_id",
        {"new": 0.2, "corpus": 0.8},
        salt="sd",
    )
    new = docs.where(F.col("split") == "new").select("doc_id", "text")
    corpus = docs.where(F.col("split") == "corpus").select("doc_id", "text")

    src = tmp_path / "incoming"
    src.mkdir()
    # two files -> maxFilesPerTrigger=1 gives two micro-batches
    rows = new.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, new.schema).coalesce(1).write.parquet(
            str(src / f"b{i}"), mode="overwrite"
        )
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )

    got: set = set()

    def sink(flagged, epoch_id):
        got.update(
            (r["left_id"], r["right_id"]) for r in flagged.collect()
        )

    q = stream_dedup_against_corpus(
        stream,
        corpus,
        sink,
        min_est_jaccard=0.3,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    want = {
        (r["left_id"], r["right_id"])
        for r in minhash_lsh_join(
            new, corpus, min_est_jaccard=0.3
        ).collect()
    }
    assert got == want
    assert want, "test split should produce at least one flagged pair"


def test_stream_dedup_into_scd2_store(spark, tmp_path):
    """Streaming contamination -> SCD2 store: flagged-document rows
    must accumulate across micro-batches (insert-only merge, nothing
    closes), each batch at its own slice_ts, so intermediate snapshots
    replay the flagged set as of that point in the ingest timeline."""
    import datetime as dt

    from diseasystore_spark.pipeline.dedup import minhash_lsh_join
    from diseasystore_spark.pipeline.sample import hash_split
    from diseasystore_spark.streaming.dedup_stream import (
        stream_dedup_into_store,
    )

    docs = hash_split(
        spark.read.parquet(f"{SF}/documents.parquet"),
        "doc_id",
        {"new": 0.2, "corpus": 0.8},
        salt="sd",
    )
    new = docs.where(F.col("split") == "new").select("doc_id", "text")
    corpus = docs.where(F.col("split") == "corpus").select("doc_id", "text")

    # split the incoming docs into two files = two micro-batches, and
    # require each half to flag at least one pair so accumulation is
    # observable
    rows = sorted(new.collect(), key=lambda r: r["doc_id"])
    half = len(rows) // 2
    halves = [rows[:half], rows[half:]]
    per_half = []
    for i, chunk in enumerate(halves):
        cdf = spark.createDataFrame(chunk, new.schema)
        flags = {
            (str(r["left_id"]), str(r["right_id"]))
            for r in minhash_lsh_join(
                cdf, corpus, min_est_jaccard=0.3
            ).collect()
        }
        assert flags, f"half {i} should flag at least one pair"
        per_half.append(flags)

    src = tmp_path / "incoming"
    src.mkdir()
    for i, chunk in enumerate(halves):
        spark.createDataFrame(chunk, new.schema).coalesce(1).write.parquet(
            str(src / f"b{i}"), mode="overwrite"
        )
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    from diseasystore_spark.storage.scd2 import ParquetFeatureStore

    backend = ParquetFeatureStore(spark, str(tmp_path / "store"))
    q = stream_dedup_into_store(
        stream,
        corpus,
        backend,
        "ds.contamination",
        min_est_jaccard=0.3,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    def snap(ts):
        return {
            (r["key_doc"], r["key_match"])
            for r in backend.get_table("ds.contamination", ts).collect()
        }

    # epoch-derived slices: batch 0 merges at origin+0s, batch 1 at +1s
    origin = dt.datetime(2024, 1, 1)
    first = snap(origin)
    final = snap(origin + dt.timedelta(seconds=1))
    # the final store holds exactly the union of both batches' flags
    assert final == per_half[0] | per_half[1]
    # snapshot isolation: the first slice holds exactly one batch's
    # flags (whichever file triggered first), strictly fewer than final
    assert first in (per_half[0], per_half[1])
    assert first < final


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streaming benchmark screening must flag exactly what the batch
    operator flags, across micro-batch boundaries, with the benchmark
    key set computed once up front."""
    from diseasystore_spark.pipeline.dedup import ngram_decontaminate
    from diseasystore_spark.streaming.dedup_stream import (
        stream_decontaminate_against_benchmark,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.where(F.col("doc_id") % 11 == 0)
    incoming = docs.where(F.col("doc_id") % 11 != 0)

    src = tmp_path / "incoming"
    src.mkdir()
    rows = incoming.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, incoming.schema).coalesce(1).write.parquet(
            str(src / f"b{i}"), mode="overwrite"
        )
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )

    got: dict = {}

    def sink(flagged, epoch_id):
        got.update(
            {r["doc_id"]: r["n_shared_ngrams"] for r in flagged.collect()}
        )

    q = stream_decontaminate_against_benchmark(
        stream, bench, sink, n=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    want = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in ngram_decontaminate(incoming, bench, n=4).collect()
    }
    assert got == want
    assert any(v > 0 for v in want.values())  # screening is non-trivial


def test_funnel_stream_matches_batch_with_late_data(spark, tmp_path):
    """Stateful streaming funnel: the last emission per user must equal
    the batch funnel_reach over the full history, including LATE
    (out-of-order across micro-batches) events that retroactively
    lower earlier-stage reach times and thereby change later stages."""
    from diseasystore_spark.operators.events import funnel_reach
    from diseasystore_spark.streaming.stateful import funnel_stream

    TS = datetime.datetime
    first = [
        # user 1: click arrives before any view in batch 1 -> stalls
        (1, TS(2024, 1, 1, 10, 0), "click"),
        (1, TS(2024, 1, 1, 10, 30), "view"),
        # user 3: full funnel in batch 1
        (3, TS(2024, 1, 1, 10, 0), "view"),
        (3, TS(2024, 1, 1, 11, 0), "click"),
        (3, TS(2024, 1, 1, 11, 30), "purchase"),
    ]
    second = [
        # late view for user 1 BEFORE the batch-1 click: the click now
        # chains (t0 drops to 9:00, click@10:00 > 9:00)
        (1, TS(2024, 1, 1, 9, 0), "view"),
        # late click for user 3 between t0 and old t1: t1 drops to
        # 10:15; late purchase@10:45 then beats the old 11:30
        (3, TS(2024, 1, 1, 10, 15), "click"),
        (3, TS(2024, 1, 1, 10, 45), "purchase"),
    ]
    schema = "user_id long, ts timestamp, event_type string"
    src = str(tmp_path / "funnel_src")
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(second, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stages = ["view", "click", "purchase"]
    emissions = []

    def sink(batch_df, epoch_id):
        for r in batch_df.collect():
            emissions.append((epoch_id, r["user_id"], list(r["reach"])))

    q = (
        funnel_stream(stream, stages, watermark="10 hours")
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    last = {}
    for epoch, user, reach in sorted(emissions, key=lambda e: e[0]):
        last[user] = reach

    batch_df = spark.createDataFrame(first + second, schema)
    want = {
        r["user_id"]: list(r["reach"])
        for r in funnel_reach(batch_df, stages).collect()
    }
    assert last == want
    # And the late data genuinely changed things: user 1 completed
    # stage 1, user 3's purchase moved earlier than batch-1's answer.
    us = lambda *a: int(TS(*a).timestamp() * 1_000_000)  # noqa: E731
    assert last[1][1] == us(2024, 1, 1, 10, 0)
    assert last[3] == [
        us(2024, 1, 1, 10, 0),
        us(2024, 1, 1, 10, 15),
        us(2024, 1, 1, 10, 45),
    ]


def test_stream_funnel_query_survives_one_sided_cutoff(spark, tmp_path):
    """q191 splits events at 2024-01-15 into two stream batches; with
    every event before the cutoff the second half is an empty
    schema-only file, and the result still matches the SQL oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from diseasystore_spark.queries import ORACLE_Q191, QUERIES

    TS = datetime.datetime
    rows = [
        (1, TS(2024, 1, 10, 9, 0), "view"),
        (1, TS(2024, 1, 10, 9, 30), "click"),
        (1, TS(2024, 1, 10, 10, 0), "signup"),
        (2, TS(2024, 1, 10, 12, 0), "view"),
        (2, TS(2024, 1, 10, 15, 0), "click"),  # outside the 2 h window
        (3, TS(2024, 1, 10, 8, 0), "click"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": [r[2] for r in rows],
                "value": pa.array([1.0] * len(rows)),
                "props": ["{}"] * len(rows),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = sorted(
        tuple(r)
        for r in QUERIES["q191_stream_funnel"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(ORACLE_Q191).fetchall())
    assert got == want
    assert [r[2] for r in got] == [2, 1, 1, 0]


def test_windowed_distinct_users_stream_within_envelope(spark, tmp_path):
    """Streaming HLL distinct-per-window must equal the batch run of
    the SAME plan exactly (deterministic sketch) and sit within the
    error envelope of the exact count."""
    import random

    from diseasystore_spark.streaming.ingest import windowed_distinct_users

    rng = random.Random(7)
    TS = datetime.datetime
    rows = [
        (rng.randrange(400), TS(2024, 1, 1 + d, rng.randrange(24)))
        for d in range(3)
        for _ in range(800)
    ]
    schema = "user_id long, ts timestamp"
    src = str(tmp_path / "wdu_src")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        windowed_distinct_users(stream, watermark="48 hours")
        .writeStream.format("memory")
        .queryName("wdu_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wdu_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"]: r["approx_users"]
        for r in spark.sql("SELECT * FROM wdu_out").collect()
    }

    batch_df = spark.createDataFrame(rows, schema)
    batch = {
        r["window_start"]: r["approx_users"]
        for r in windowed_distinct_users(batch_df).collect()
    }
    assert got == batch  # same sketch, same result
    exact = {
        r["w"]: r["n"]
        for r in batch_df.groupBy(
            F.window("ts", "1 day").alias("win")
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .select(F.col("win.start").alias("w"), "n")
        .collect()
    }
    for w, n in exact.items():
        assert abs(got[w] - n) / n < 0.1, (w, got[w], n)


def test_funnel_stream_state_recovers_across_restarts(spark, tmp_path):
    """Exactly-once state recovery: stop the streaming funnel after
    batch 1, add more source data, start a NEW query on the SAME
    checkpoint — carried state must chain batch-2 events onto batch-1
    reach times, and the final answer must equal the batch operator."""
    from diseasystore_spark.operators.events import funnel_reach
    from diseasystore_spark.streaming.stateful import funnel_stream

    TS = datetime.datetime
    schema = "user_id long, ts timestamp, event_type string"
    src = str(tmp_path / "fr_src")
    ckpt = str(tmp_path / "fr_ckpt")
    first = [(1, TS(2024, 1, 1, 10, 0), "view")]
    second = [(1, TS(2024, 1, 1, 10, 30), "click"),
              (1, TS(2024, 1, 1, 11, 0), "purchase")]
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(src)

    emissions = []

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            funnel_stream(stream, ["view", "click", "purchase"],
                          watermark="10 hours")
            .writeStream.foreachBatch(
                lambda bdf, eid: emissions.extend(
                    (eid, r["user_id"], list(r["reach"]))
                    for r in bdf.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # processes batch 1, then terminates (availableNow)
    after_first = {u: r for _, u, r in emissions}
    assert after_first[1][0] is not None and after_first[1][1] is None

    spark.createDataFrame(second, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()  # NEW query, SAME checkpoint: resumes from state

    last = {u: r for _, u, r in sorted(emissions, key=lambda e: e[0])}
    batch = {
        r["user_id"]: list(r["reach"])
        for r in funnel_reach(
            spark.createDataFrame(first + second, schema),
            ["view", "click", "purchase"],
        ).collect()
    }
    assert last == batch
    assert all(t is not None for t in last[1])


def test_attribution_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream watermarked interval join: candidate pairs from
    two micro-batched streams (files split so some pairs span the
    batch boundary) must equal the batch formulation exactly."""
    from diseasystore_spark.streaming.joins import attribute_conversions

    TS = datetime.datetime
    base = TS(2024, 1, 1, 10, 0)
    imp_rows, conv_rows = [], []
    # user 1: two views, purchase 30 min after the second (pairs with
    # both: the first is 40 min before). user 2: view, purchase 2h
    # later (outside the window -> no pair). user 3: purchase with no
    # prior view. pair-spanning-batches: user 4 view in file 1,
    # purchase in file 2.
    imp_rows += [(1, base), (1, base + datetime.timedelta(minutes=10))]
    conv_rows += [(1, base + datetime.timedelta(minutes=40))]
    imp_rows += [(2, base)]
    conv_rows += [(2, base + datetime.timedelta(hours=2))]
    conv_rows += [(3, base + datetime.timedelta(minutes=5))]
    imp4 = [(4, base + datetime.timedelta(minutes=20))]
    conv4 = [(4, base + datetime.timedelta(minutes=50))]

    schema = "user_id long, ts timestamp"
    imp_src = str(tmp_path / "imp"); conv_src = str(tmp_path / "conv")
    spark.createDataFrame(imp_rows, schema).coalesce(1).write.parquet(imp_src)
    spark.createDataFrame(imp4, schema).coalesce(1).write.mode(
        "append"
    ).parquet(imp_src)
    spark.createDataFrame(conv_rows, schema).coalesce(1).write.parquet(
        conv_src
    )
    spark.createDataFrame(conv4, schema).coalesce(1).write.mode(
        "append"
    ).parquet(conv_src)

    batch = attribute_conversions(
        spark.read.parquet(imp_src),
        spark.read.parquet(conv_src),
        window_seconds=3600,
    )
    want = {tuple(r) for r in batch.collect()}
    users = {t[0] for t in want}
    assert users >= {1, 4}
    assert 2 not in users and 3 not in users

    imp_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(imp_src)
    )
    conv_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(conv_src)
    )
    out = attribute_conversions(
        imp_stream, conv_stream, window_seconds=3600
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from attr_out").collect()}
    assert got == want


def test_stream_exact_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark path: replayed keys inside the
    watermark horizon are emitted once; the kept-row key set equals
    the batch dropDuplicates key set."""
    from diseasystore_spark.streaming.dedup_stream import (
        stream_exact_dedup,
    )

    TS = datetime.datetime
    rows1 = [
        (100, TS(2024, 1, 1, 10, 0), "a"),
        (101, TS(2024, 1, 1, 10, 1), "b"),
        (100, TS(2024, 1, 1, 10, 2), "a-replay"),   # dup key, same batch
    ]
    rows2 = [
        (101, TS(2024, 1, 1, 10, 10), "b-replay"),  # dup key, next batch
        (102, TS(2024, 1, 1, 10, 11), "c"),
    ]
    schema = "event_id long, ts timestamp, payload string"
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    batch_keys = {
        r["event_id"]
        for r in stream_exact_dedup(
            spark.read.parquet(src), ["event_id"]
        ).collect()
    }
    assert batch_keys == {100, 101, 102}

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_exact_dedup(stream, ["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("exact_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        r["event_id"]
        for r in spark.sql("select * from exact_dedup_out").collect()
    ]
    assert sorted(got) == [100, 101, 102]  # each key exactly once

    import pytest

    with pytest.raises(ValueError, match="at least one"):
        stream_exact_dedup(spark.read.parquet(src), [])


def test_stream_windowed_quantiles_exact_regime_matches_numpy(spark, tmp_path):
    """stream_windowed_quantiles with k >= window size: when the
    watermark passes a window's end, its emitted quantiles equal the
    batch quantile_cont (numpy linear interpolation) of exactly that
    window's values — across a micro-batch split through the middle
    of the window."""
    import random

    import numpy as np

    from diseasystore_spark.streaming.quantiles import (
        stream_windowed_quantiles,
    )

    TS = datetime.datetime
    rng = random.Random(5)
    w1 = [(TS(2024, 1, 1, 10, 0, s % 60), rng.uniform(0, 100))
          for s in range(40)]                      # window 10:00
    w1b = [(TS(2024, 1, 1, 10, 0, s % 60), rng.uniform(50, 150))
           for s in range(25)]                     # same window, file 2
    late_driver = [(TS(2024, 1, 1, 12, 0, 0), 1.0)]  # advances watermark
    cols = "ts timestamp, v double"
    src = str(tmp_path / "wq_src")
    spark.createDataFrame(w1, cols).coalesce(1).write.parquet(src)
    spark.createDataFrame(w1b, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(late_driver, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_windowed_quantiles(
        stream, "v", window_seconds=60, qs=[0.1, 0.5, 0.9],
        k=4096, watermark="5 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wq_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql(
        "select * from wq_out where window_start = timestamp'2024-01-01 10:00:00'"
    ).collect()
    got = {r["q"]: (r["value"], r["n"]) for r in rows}
    vals = [v for _, v in w1 + w1b]
    exp = np.quantile(np.array(vals), [0.1, 0.5, 0.9])
    assert len(rows) == 3
    for qq, e in zip([0.1, 0.5, 0.9], exp):
        v, n = got[qq]
        assert n == len(vals)
        assert abs(v - e) < 1e-9, (qq, v, e)


def test_stream_windowed_quantiles_grouped(spark, tmp_path):
    """group_col: one independent sketch per (window, group); each
    group's emitted quantiles equal numpy quantiles of exactly its own
    values (k >= n regime)."""
    import numpy as np

    from diseasystore_spark.streaming.quantiles import (
        stream_windowed_quantiles,
    )

    TS = datetime.datetime
    a = [(TS(2024, 1, 1, 10, 0, i % 60), "api", float(i)) for i in range(30)]
    b = [(TS(2024, 1, 1, 10, 0, i % 60), "web", float(1000 + i))
         for i in range(20)]
    drv = [(TS(2024, 1, 1, 12, 0, 0), "api", 1.0)]
    cols = "ts timestamp, ep string, v double"
    src = str(tmp_path / "gwq_src")
    spark.createDataFrame(a + b, cols).coalesce(1).write.parquet(src)
    spark.createDataFrame(drv, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_windowed_quantiles(
        stream, "v", window_seconds=60, qs=[0.5, 0.9], k=1024,
        watermark="5 minutes", group_col="ep",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("gwq_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gwq_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select * from gwq_out "
        "where window_start = timestamp'2024-01-01 10:00:00'"
    ).collect()
    got = {(r["ep"], r["q"]): (r["value"], r["n"]) for r in rows}
    assert len(rows) == 4
    for ep, vals in (("api", [v for *_, v in a]), ("web", [v for *_, v in b])):
        exp = np.quantile(np.array(vals), [0.5, 0.9])
        for qq, e in zip([0.5, 0.9], exp):
            v, n = got[(ep, qq)]
            assert n == len(vals) and abs(v - e) < 1e-9, (ep, qq)


def test_quality_filters_stream_match_batch(spark, tmp_path):
    """gopher_quality_filter and c4_clean are stateless per-row
    projections, so they run unchanged on a streaming source and emit
    exactly the batch verdicts across micro-batch boundaries."""
    from diseasystore_spark.pipeline.text import (
        c4_clean,
        gopher_quality_filter,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    src = tmp_path / "docs"
    src.mkdir()
    rows = docs.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.parquet(
            str(src / f"b{i}"), mode="overwrite"
        )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )

    got_g: dict = {}
    got_c: dict = {}

    def sink(batch, epoch_id):
        got_g.update(
            {r["doc_id"]: r["passed"]
             for r in gopher_quality_filter(batch, min_words=20).collect()}
        )
        got_c.update(
            {r["doc_id"]: (r["kept"], r["n_lines_kept"])
             for r in c4_clean(batch).collect()}
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want_g = {
        r["doc_id"]: r["passed"]
        for r in gopher_quality_filter(docs, min_words=20).collect()
    }
    want_c = {
        r["doc_id"]: (r["kept"], r["n_lines_kept"])
        for r in c4_clean(docs).collect()
    }
    assert got_g == want_g and got_c == want_c
    assert len(want_g) == len(rows)


def test_stream_windowed_topk_exact_regime_matches_batch(spark, tmp_path):
    """stream_windowed_topk with m >= distinct items: when the
    watermark passes a window's end, its emitted top-k equals the
    batch per-window value counts — across a micro-batch split
    through the middle of the window (Misra-Gries never truncates in
    this regime, so counts are exact and deterministic)."""
    from diseasystore_spark.streaming.topk import stream_windowed_topk

    TS = datetime.datetime
    w1 = [(TS(2024, 1, 1, 10, 0, s % 60), ["a", "b", "a", "c"][s % 4])
          for s in range(40)]                    # window 10:00, file 1
    w1b = [(TS(2024, 1, 1, 10, 0, s % 60), ["a", "d"][s % 2])
           for s in range(20)]                   # same window, file 2
    drv = [(TS(2024, 1, 1, 12, 0, 0), "zz")]     # advances watermark
    cols = "ts timestamp, item string"
    src = str(tmp_path / "tk_src")
    spark.createDataFrame(w1, cols).coalesce(1).write.parquet(src)
    spark.createDataFrame(w1b, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(drv, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_windowed_topk(
        stream, "item", window_seconds=60, m=100, top=3,
        watermark="5 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tk_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql(
        "select * from tk_out "
        "where window_start = timestamp'2024-01-01 10:00:00' "
        "order by rank"
    ).collect()
    # batch truth: a=20+10=30, b=10, c=10, d=10 over n=60; ties by item
    got = [(r["rank"], r["item"], r["count"], r["n"]) for r in rows]
    assert got == [(1, "a", 30, 60), (2, "b", 10, 60), (3, "c", 10, 60)]


def test_stream_windowed_topk_grouped(spark, tmp_path):
    """group_col: one independent summary per (window, group); each
    group ranks only its own items."""
    from diseasystore_spark.streaming.topk import stream_windowed_topk

    TS = datetime.datetime
    a = [(TS(2024, 1, 1, 10, 0, i % 60), "en", ["x", "y"][i % 2])
         for i in range(10)]
    b = [(TS(2024, 1, 1, 10, 0, i % 60), "da", "z") for i in range(4)]
    drv = [(TS(2024, 1, 1, 12, 0, 0), "en", "w")]
    cols = "ts timestamp, lang string, item string"
    src = str(tmp_path / "gtk_src")
    spark.createDataFrame(a + b, cols).coalesce(1).write.parquet(src)
    spark.createDataFrame(drv, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_windowed_topk(
        stream, "item", window_seconds=60, m=10, top=2,
        watermark="5 minutes", group_col="lang",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("gtk_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "gtk_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql(
        "select * from gtk_out "
        "where window_start = timestamp'2024-01-01 10:00:00' "
        "order by lang, rank"
    ).collect()
    got = [(r["lang"], r["rank"], r["item"], r["count"], r["n"]) for r in rows]
    assert got == [
        ("da", 1, "z", 4, 4),
        ("en", 1, "x", 5, 10),
        ("en", 2, "y", 5, 10),
    ]


def test_contact_events_stream_matches_batch(spark, tmp_path):
    """Stream-stream SELF-join via the tolerance-bucket equality key:
    the streamed pair set must equal the batch formulation exactly,
    and aggregating it must reproduce operators.contact_pairs —
    including pairs whose two events arrive in different micro-batches
    and a pair exactly AT the tolerance bound."""
    from diseasystore_spark.operators.events import contact_pairs
    from diseasystore_spark.streaming.joins import contact_events

    TS = datetime.datetime
    base = TS(2024, 1, 1, 10, 0)
    m = datetime.timedelta(minutes=1)
    # users 1/2 co-active twice (10:00~10:05, 10:50~10:55); user 3
    # exactly at the 30-min bound from user 1's second event (counts)
    # and 25 min from user 2's second (counts);
    # user 4 65 min away from everything (never pairs); user 1 has two
    # own events 5 min apart (same-user, excluded). File 2 carries
    # user 2's second event so its pair spans the batch boundary.
    f1 = [
        (1, 100, base),
        (2, 200, base + 5 * m),
        (1, 101, base + 50 * m),
        (3, 300, base + 80 * m),
        (4, 400, base + 145 * m),
    ]
    f2 = [(2, 201, base + 55 * m)]
    schema = "user_id long, event_id long, ts timestamp"
    src = str(tmp_path / "ev")
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    batch_events = spark.read.parquet(src)
    batch = contact_events(batch_events, tolerance_s=1800)
    want = {tuple(r) for r in batch.collect()}
    # aggregate the pair stream -> must equal the batch operator
    agg = {
        (r["user_a"], r["user_b"]): r["n_contacts"]
        for r in contact_pairs(batch_events, tolerance_s=1800).collect()
    }
    from collections import Counter

    got_agg = Counter(
        (min(a, b), max(a, b))
        for (a, b, *_rest) in want
    )
    assert dict(got_agg) == agg == {(1, 2): 2, (1, 3): 1, (2, 3): 1}

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = contact_events(stream, tolerance_s=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("contact_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "contact_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.sql("select * from contact_out").collect()
    }
    assert got == want

    # event-sampled twin: the same md5 thinning as the batch
    # operator, applied before BOTH join sides — stream == the batch
    # formulation at the same q, and == the unthinned pair set
    # restricted to surviving events (selection is per event, so no
    # surviving pair is ever dropped)
    import hashlib

    qrate = 0.6
    thr = int(round(qrate * 2**32))

    def kept(eid: int) -> bool:
        h = hashlib.md5(f"cp0\x1fev\x1f{eid}".encode()).hexdigest()
        return int(h[:8], 16) < thr

    surviving = {eid for _, eid, _ in f1 + f2 if kept(eid)}
    assert 0 < len(surviving) < len(f1) + len(f2)
    batch_thinned = {
        tuple(r)
        for r in contact_events(
            batch_events, tolerance_s=1800, event_sample_rate=qrate
        ).collect()
    }
    assert batch_thinned <= want
    out2 = contact_events(
        stream, tolerance_s=1800, event_sample_rate=qrate
    )
    q2 = (
        out2.writeStream.format("memory")
        .queryName("contact_out_thinned")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "contact_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = {
        tuple(r)
        for r in spark.sql("select * from contact_out_thinned").collect()
    }
    assert got2 == batch_thinned

    import pytest as _pytest

    with _pytest.raises(ValueError, match="event_sample_rate"):
        contact_events(batch_events, event_sample_rate=0.0)


def test_contact_events_restart_and_late_data(spark, tmp_path):
    """VERDICT r9 item 5: the streaming contact-pair join under a
    CHECKPOINT RESTART between micro-batches plus LATE arrivals
    inside the watermark — a late event must still pair with state
    buffered before the restart, already-emitted pairs must not
    re-emit (exactly-once via the checkpoint), and the final pair
    multiset must equal the batch operator exactly, in both the
    unthinned and the event-sampled (thinned) form."""
    from collections import Counter

    from diseasystore_spark.streaming.joins import contact_events

    TS = datetime.datetime
    base = TS(2024, 1, 1, 10, 0)
    m = datetime.timedelta(minutes=1)
    schema = "user_id long, event_id long, ts timestamp"
    src = str(tmp_path / "ce_src")

    # file 1: users 1/2 co-active at 10:00/10:05; user 5 at 10:40
    f1 = [
        (1, 100, base),
        (2, 200, base + 5 * m),
        (5, 500, base + 40 * m),
    ]
    # file 2 (after the restart): user 3 at 10:50 (pairs with 5) AND
    # a LATE event — user 4 at 10:02, ~48 min behind the stream head,
    # well inside the 2 h watermark — which must pair with users 1/2
    # whose state was buffered BEFORE the restart.
    f2 = [
        (3, 300, base + 50 * m),
        (4, 400, base + 2 * m),  # late arrival
    ]
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)

    emissions: list[tuple] = []
    ckpt = str(tmp_path / "ce_ckpt")

    def run_once(rate=None):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            contact_events(
                stream, tolerance_s=1800, event_sample_rate=rate
            )
            .writeStream.foreachBatch(
                lambda bdf, eid: emissions.extend(
                    tuple(r) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # batch 1 only, then terminates
    first = Counter(emissions)
    assert first == Counter(
        {(1, 2, base, base + 5 * m, 5 * 60 * 1_000_000): 1}
    )

    spark.createDataFrame(f2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()  # NEW query, SAME checkpoint

    batch_all = spark.createDataFrame(f1 + f2, schema)
    want = Counter(
        tuple(r)
        for r in contact_events(batch_all, tolerance_s=1800).collect()
    )
    got = Counter(emissions)
    assert got == want, (got, want)
    # the late event really did pair with pre-restart state, and the
    # pre-restart pair was not re-emitted
    late_pairs = {
        (min(a, b), max(a, b)) for (a, b, *_r) in got if 4 in (a, b)
    }
    assert late_pairs == {(1, 4), (2, 4)}
    assert got[(1, 2, base, base + 5 * m, 5 * 60 * 1_000_000)] == 1

    # thinned twin under the same restart discipline: fresh
    # checkpoint, same two-run sequence, exact parity with the
    # event-sampled batch operator
    emissions.clear()
    ckpt = str(tmp_path / "ce_ckpt_thinned")
    qrate = 0.6
    run_once(rate=qrate)  # both files now exist: two micro-batches
    want_thinned = Counter(
        tuple(r)
        for r in contact_events(
            batch_all, tolerance_s=1800, event_sample_rate=qrate
        ).collect()
    )
    assert Counter(emissions) == want_thinned
    assert sum(want_thinned.values()) < sum(want.values())


def test_session_counts_native_stream_matches_batch(spark, tmp_path):
    """Native session_window sessionization: finalized sessions
    emitted by the streaming run equal the batch run of the SAME plan
    AND the q33 lag-based batch shape — including the gap boundary
    (an event exactly `gap` later extends; gap+1s splits), across a
    micro-batch split through the middle of a session."""
    import random as rnd

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from diseasystore_spark.streaming.ingest import session_counts

    TS = datetime.datetime
    rng = rnd.Random(23)
    rows = []
    # user 1: boundary cases — exactly 60s gap merges, 61s splits
    rows += [
        (1, TS(2024, 1, 1, 10, 0, 0)),
        (1, TS(2024, 1, 1, 10, 1, 0)),    # == gap -> same session
        (1, TS(2024, 1, 1, 10, 2, 1)),    # gap + 1s -> new session
    ]
    # random users: bursts with mixed gaps
    t0 = TS(2024, 1, 1, 9, 0, 0)
    for u in range(2, 8):
        t = t0
        for _ in range(rng.randrange(3, 12)):
            t = t + datetime.timedelta(seconds=rng.choice([5, 30, 59, 61, 200]))
            rows.append((u, t))
    drv = [(99, TS(2024, 1, 1, 23, 0, 0))]  # advances the watermark
    cols = "user_id long, ts timestamp"
    df = spark.createDataFrame(rows, cols)

    src = str(tmp_path / "sess_src")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], cols).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[half:], cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(drv, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        session_counts(stream, gap="1 minute", watermark="1 minute")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"])
        for r in spark.sql(
            "select * from sess_out where user_id < 99"
        ).collect()
    }

    # batch run of the same plan
    want = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"])
        for r in session_counts(df, gap="1 minute").collect()
    }
    assert got == want and len(got) >= 8
    # boundary pinned: user 1 has sessions of 2 events then 1
    assert want[(1, "2024-01-01 10:00:00")] == ("2024-01-01 10:01:00", 2)
    assert want[(1, "2024-01-01 10:02:01")] == ("2024-01-01 10:02:01", 1)

    # q33 lag-based batch shape over the same data
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = df.select(
        "user_id", "ts",
        F.when(
            F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
            > 60, 1,
        ).otherwise(0).alias("new_sess"),
    ).select(
        "user_id", "ts",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sid"),
    )
    lag_form = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"])
        for r in flagged.groupBy("user_id", "sid").agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        ).drop("sid").collect()
    }
    assert want == lag_form


def test_windowed_distinct_hll_stream_matches_batch_and_estimate(
    spark, tmp_path
):
    """Portable-HLL windowed registers: the streaming run emits
    exactly the batch registers (across a micro-batch split through a
    window), hll_estimate over the emitted frame equals a hashlib
    replay, and day->period rollup via hll_merge equals building over
    the union."""
    import hashlib

    from diseasystore_spark.pipeline.sketch import (
        hll_estimate,
        hll_merge,
    )
    from diseasystore_spark.streaming.ingest import windowed_distinct_hll

    TS = datetime.datetime
    rows = [
        (TS(2024, 1, 1, 8, 0, s % 60), (s * 7) % 40) for s in range(80)
    ] + [
        (TS(2024, 1, 2, 9, 0, s % 60), (s * 3) % 25) for s in range(50)
    ]
    drv = [(TS(2024, 1, 5, 0, 0, 0), 999)]
    cols = "ts timestamp, user_id long"
    df = spark.createDataFrame(rows, cols)

    src = str(tmp_path / "hll_src")
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], cols).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[half:], cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(drv, cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        windowed_distinct_hll(stream, m=64)
        .writeStream.format("memory")
        .queryName("hll_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql(
            "select * from hll_out "
            "where window_start < timestamp'2024-01-05'"
        ).collect())
    )
    want = sorted(
        map(tuple, windowed_distinct_hll(df, m=64).collect())
    )
    assert got == want and len(got) > 0

    # estimate from the emitted registers == hashlib replay per day
    frame = windowed_distinct_hll(df, m=64)
    ests = {
        str(r["window_start"])[:10]: r
        for r in hll_estimate(
            frame, ["window_start", "window_end"]
        ).collect()
    }
    for day, day_rows in [
        ("2024-01-01", rows[:80]), ("2024-01-02", rows[80:])
    ]:
        regs: dict = {}
        for _, u in day_rows:
            h = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
            w, reg = h // 64, h % 64
            regs[reg] = max(regs.get(reg, 0), 55 if w == 0 else
                            55 - w.bit_length())
        inv = sum(1 << (55 - r) for r in regs.values()) + (
            64 - len(regs)
        ) * (1 << 55)
        assert ests[day]["inv_sum_num"] == inv

    # day windows roll up to the whole period by register max
    period = hll_merge(frame.drop("window_start", "window_end"))
    merged_est = hll_estimate(period).collect()[0]
    whole = windowed_distinct_hll(
        df, window_duration="7 days", m=64
    )
    whole_est = hll_estimate(
        whole.drop("window_start", "window_end")
    ).collect()[0]
    assert merged_est["inv_sum_num"] == whole_est["inv_sum_num"]


def test_windowed_bucket_counts_stream_matches_batch(spark, tmp_path):
    """The streaming drift bucketization equals the identical plan run
    as a batch frame (same boundaries, same windows, same counts) —
    the stream==batch parity contract of every streaming twin."""
    import uuid

    from pyspark.sql import functions as F

    from diseasystore_spark.streaming.quantiles import windowed_bucket_counts

    rows = []
    for i in range(400):
        day = 1 + (i % 5)
        rows.append((i, f"2024-03-{day:02d} 10:{i % 60:02d}:00", float(i % 97)))
    batch = spark.createDataFrame(
        rows, "event_id long, ts0 string, value double"
    ).selectExpr("event_id", "CAST(ts0 AS TIMESTAMP) AS ts", "value")
    ref = batch.select("value")

    src = str(tmp_path / "in")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    sink = "wbc_" + uuid.uuid4().hex[:8]
    q = (
        windowed_bucket_counts(stream, ref, "value", n_bins=7)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_stream = {
        (str(r["window_start"]), r["bin"]): r["cur_n"]
        for r in spark.table(sink).collect()
    }
    got_batch = {
        (str(r["window_start"]), r["bin"]): r["cur_n"]
        for r in windowed_bucket_counts(batch, ref, "value", n_bins=7).collect()
    }
    assert got_stream == got_batch and len(got_batch) > 5
    # self-reference: every bin's total matches the equi-probable cut
    per_bin = {}
    for (_, b), n in got_batch.items():
        per_bin[b] = per_bin.get(b, 0) + n
    assert sum(per_bin.values()) == 400


def _write_ordered_batches(spark, src, schema, batches):
    """Write each batch as one parquet file with STRICTLY increasing
    mtimes so FileStreamSource (which orders by modification time)
    processes them as separate, ordered micro-batches — three quick
    writes otherwise land in the same mtime tick and the 'late' batch
    can be read first."""
    import glob as _glob
    import os as _os
    import time as _time

    seen = set()
    base = _time.time()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in _glob.glob(_os.path.join(src, "*.parquet")):
            if f not in seen:
                _os.utime(f, (base + 10 * i, base + 10 * i))
                seen.add(f)


def test_windowed_bucket_counts_late_data_policy(spark, tmp_path):
    """Watermark semantics of the drift monitor, injected as
    out-of-order micro-batches (one file per trigger). The documented
    late-row policy is Spark's watermark contract: a window is
    finalized (emitted once, state evicted) when the watermark passes
    its end; a straggler arriving while the window is STILL in state
    merges normally, and a straggler arriving after eviction is
    DROPPED — the finalized count never changes and nothing is
    double-emitted. The test injects a row behind an already-evicted
    window and asserts its count stayed at the on-time value, and
    that every emitted window matches the batch run over exactly the
    surviving rows."""
    import uuid

    from diseasystore_spark.streaming.quantiles import (
        windowed_bucket_counts,
    )

    TS = datetime.datetime
    schema = "ts timestamp, value double"
    ref = spark.createDataFrame(
        [(TS(2024, 1, 1), float(v)) for v in range(100)], schema
    ).select("value")

    first = [
        (TS(2024, 1, 1, 10, 10), 5.0),
        (TS(2024, 1, 1, 10, 20), 15.0),
        (TS(2024, 1, 1, 12, 0), 25.0),  # watermark -> 11:00 after b1
    ]
    second = [
        # batch 2 runs with wm=11:00: finalizes + evicts the 10:00
        # window (n=2); afterwards wm -> 13:00
        (TS(2024, 1, 1, 14, 0), 45.0),
    ]
    third = [
        # LATE: behind the 13:00 watermark, its window already
        # evicted -> DROPPED (the finalized n=2 never becomes 3)
        (TS(2024, 1, 1, 10, 40), 5.0),
        (TS(2024, 1, 1, 13, 30), 35.0),  # on-time, open window
        (TS(2024, 1, 1, 16, 0), 55.0),  # watermark -> 15:00 after b3
    ]
    fourth = [
        (TS(2024, 1, 1, 20, 0), 65.0),  # flush driver
    ]
    src = str(tmp_path / "late_src")
    _write_ordered_batches(
        spark, src, schema, [first, second, third, fourth]
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = "wbc_late_" + uuid.uuid4().hex[:8]
    q = (
        windowed_bucket_counts(
            stream, ref, "value",
            window_duration="1 hour", watermark="1 hour", n_bins=5,
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].hour, r["bin"]): r["cur_n"]
        for r in spark.table(sink).collect()
    }
    # finalized windows: 10:00 with 2 on-time rows (the post-eviction
    # late 10:40 row was dropped, NOT counted as a third and NOT
    # re-emitted), then 12:00 / 13:00 / 14:00 with 1 each
    surviving = first + second + third[1:]
    batch = {
        (r["window_start"].hour, r["bin"]): r["cur_n"]
        for r in windowed_bucket_counts(
            spark.createDataFrame(surviving, schema),
            ref, "value", window_duration="1 hour", n_bins=5,
        ).collect()
    }
    assert sum(n for (h, _b), n in got.items() if h == 10) == 2
    for key, n in got.items():
        assert batch[key] == n, (key, n)
    assert {h for h, _ in got} >= {10, 12, 13}


def test_session_counts_late_data_policy(spark, tmp_path):
    """session_window watermark semantics with out-of-order
    micro-batches: an event behind the watermark arriving AFTER its
    session was finalized and evicted is DROPPED — it neither
    reopens/extends the finalized session (count stays 2) nor opens a
    phantom session — while an on-time later event opens a fresh
    session; each finalized session is emitted exactly once. (A
    straggler arriving while the session is still in state merges —
    that half of the contract is covered by the funnel late-data
    test; this one pins the post-eviction drop.)"""
    import uuid

    from diseasystore_spark.streaming.ingest import session_counts

    TS = datetime.datetime
    schema = "user_id long, ts timestamp"
    first = [
        (1, TS(2024, 1, 1, 10, 0)),
        (1, TS(2024, 1, 1, 10, 10)),
        (99, TS(2024, 1, 1, 13, 0)),  # watermark driver -> 12:00
    ]
    second = [
        # batch 2 runs with wm=12:00: finalizes + evicts user 1's
        # (10:00, 10:10) session; afterwards wm -> 15:00
        (99, TS(2024, 1, 1, 16, 0)),
    ]
    third = [
        # LATE: behind the 15:00 watermark, session state evicted ->
        # DROPPED (no n=3, no phantom (10:20) session)
        (1, TS(2024, 1, 1, 10, 20)),
        (1, TS(2024, 1, 1, 15, 30)),  # on-time: a NEW session
        (99, TS(2024, 1, 1, 20, 0)),  # watermark driver -> 19:00
    ]
    fourth = [
        (99, TS(2024, 1, 1, 23, 0)),  # flush driver
    ]
    src = str(tmp_path / "sess_late_src")
    _write_ordered_batches(
        spark, src, schema, [first, second, third, fourth]
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = "sess_late_" + uuid.uuid4().hex[:8]
    q = (
        session_counts(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    u1 = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table(sink).collect()
        if r["user_id"] == 1
    )
    assert u1 == [
        # first session finalized WITHOUT the late 10:20 event (and
        # no phantom (10:20) session appeared after the drop)
        (TS(2024, 1, 1, 10, 0), TS(2024, 1, 1, 10, 10), 2),
        # the on-time 15:30 event opened its own session
        (TS(2024, 1, 1, 15, 30), TS(2024, 1, 1, 15, 30), 1),
    ]


def test_funnel_stream_window_regresses_on_late_anchor(spark, tmp_path):
    """Windowed streaming funnel == windowed batch funnel under late
    data, including the adversarial direction the window introduces:
    a LATE earlier first-stage event pulls the window back and
    REGRESSES an already-reached later stage to NULL."""
    from diseasystore_spark.operators.events import funnel_reach
    from diseasystore_spark.streaming.stateful import funnel_stream

    TS = datetime.datetime
    first = [
        # u1 converts inside the 1h window anchored at 10:00 ...
        (1, TS(2024, 1, 1, 10, 0), "view"),
        (1, TS(2024, 1, 1, 10, 30), "click"),
        # u2 stalls: click outside the window of its 10:00 view
        (2, TS(2024, 1, 1, 10, 0), "view"),
        (2, TS(2024, 1, 1, 11, 30), "click"),
    ]
    second = [
        # ... until a LATE 8:00 view moves u1's window to [8:00,9:00]
        # — the 10:30 click falls OUT: stage regresses to NULL.
        (1, TS(2024, 1, 1, 8, 0), "view"),
        # u2 gains a late click inside its window: NULL -> reached.
        (2, TS(2024, 1, 1, 10, 20), "click"),
    ]
    schema = "user_id long, ts timestamp, event_type string"
    src = str(tmp_path / "wfunnel_src")
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(second, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stages = ["view", "click"]
    emissions = []

    def sink(batch_df, epoch_id):
        for r in batch_df.collect():
            emissions.append((epoch_id, r["user_id"], list(r["reach"])))

    q = (
        funnel_stream(
            stream, stages, watermark="10 hours", within_seconds=3600
        )
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "wfunnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    last = {}
    for epoch, user, reach in sorted(emissions, key=lambda e: e[0]):
        last[user] = reach

    batch_df = spark.createDataFrame(first + second, schema)
    want = {
        r["user_id"]: list(r["reach"])
        for r in funnel_reach(
            batch_df, stages, within_seconds=3600
        ).collect()
    }
    assert last == want
    # and the regression really happened: u1's click is NULL now
    assert want[1][1] is None
    assert want[2][1] is not None
