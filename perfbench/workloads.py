"""The benchmark's workloads. Each is closed loop with one client: the
next operation starts when the previous one has returned and its
result has been consumed.

A workload has three parts. ``prepare`` makes the seeded inputs and
the expected answers (not timed). ``setup`` is the workload's
repeatable set-up, timed several times for ``setup_s``. ``round`` runs
one fixed list of operations; the benchmark runs one untimed round as a
warm replicate, because the first replicate on a fresh JVM runs 1.5-3x
slower (JIT, codegen), then repeats rounds until its time is up.
"""

from __future__ import annotations

import datetime
import functools
import gc
import importlib.util
import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

import numpy as np

from perfbench import datagen

REPO = Path(__file__).resolve().parents[1]


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@functools.cache
def _oracle_checker():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", REPO / "scripts" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canon_hash(pdf) -> str:
    """Order-insensitive value hash, the canonicalisation of the
    repository's oracle checker."""
    return _oracle_checker().canon(pdf)[1]


class Recorder:
    """Times operations, runs their checks outside the timed region and
    counts attempts and failures. A failing operation is reported on
    stderr and the run goes on."""

    def __init__(self, tracer=None, sc=None):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.by_query: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.tracer = tracer
        self._sc = sc

    def op(self, kind: str, fn, check=None, **info):
        self.attempted += 1
        ctx = self.tracer.span(f"op.{kind}", **info) if self.tracer else nullcontext()
        try:
            with ctx as span:
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
                if span is not None:
                    span.info["persistent_rdds"] = len(
                        self._sc._jsc.getPersistentRDDs()
                    )
            if check is not None:
                check(result)
        except Exception as e:  # one failed op must not end the run
            self.failed += 1
            print(f"# FAILED {kind} {info}: {e!r}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples[kind].append(dt)
        if "query" in info:
            self.by_query[info["query"]].append(dt)
        return result


def release_jvm_garbage(spark) -> None:
    """Drop Python refs and run both collectors, so the ContextCleaner
    unpersists the last operation's blocks before the next one (as
    ``bench.py`` does between queries)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Workload:
    name = ""
    headline = ""  # the op kind reported as ``op_s``

    def __init__(self, spark, work: str, seed: int, sf: float | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sf = sf
        self._n_roots = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n_roots += 1
        path = os.path.join(self.work, f"{prefix}{self._n_roots}")
        os.makedirs(path)
        return path

    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, rec: Recorder) -> None:
        raise NotImplementedError

    def facts(self) -> dict:
        return {}


# ----------------------------------------------------------- scd2_revisions

REV_BASE_TS = datetime.datetime(2024, 1, 1)
REV_RANGE = (datetime.date(1995, 1, 1), datetime.date(1995, 12, 31))
REV_VALID_DAYS = 30
REV_MAX_SLICES = 64
_H_MOD = 1_000_003


def _rev_hash(order, seed, j):
    """Seeded per-(order, slice) hash in 0..99, identical in Spark
    (Columns) and NumPy (int64 arrays); no product overflows int64."""
    return ((order * 2654435761 + seed % _H_MOD * 40503 + j * 97) % _H_MOD) % 100


def _late_slice(order, seed):
    """1..9: the slice at which a late order first appears."""
    return 1 + ((order * 40503 + seed % _H_MOD * 2654435761 + 7) % _H_MOD) % 9


def revision_plan(orders_pdf, seed: int, n_slices: int) -> list[dict]:
    """Expected content of each slice from the seeded revision rules:
    about 3% of payloads change at each slice and about 1% of orders
    arrive late. Per slice: row count, payload sum in cents, and the
    sets of revised and late orders. The payload is integer cents: each
    revision adds 1% (integer division), so Spark and NumPy agree
    exactly."""
    o = orders_pdf["o_orderkey"].to_numpy(np.int64)
    vf = orders_pdf["o_orderdate"].to_numpy("datetime64[D]")
    lo, hi = (np.datetime64(d, "D") for d in REV_RANGE)
    keep = (vf <= hi) & (vf + np.timedelta64(REV_VALID_DAYS, "D") > lo)
    o = o[keep]
    base_cents = np.round(orders_pdf["o_totalprice"].to_numpy()[keep] * 100).astype(np.int64)
    late = _rev_hash(o, seed, 0) < 1
    arrive = np.where(late, _late_slice(o, seed), 0)
    revs = np.zeros(len(o), dtype=np.int64)
    plan = []
    for k in range(n_slices):
        revised = np.zeros(len(o), dtype=bool)
        if k:
            revised = _rev_hash(o, seed, k) < 3
            revs = revs + revised
        visible = arrive <= k
        cents = base_cents + base_cents * revs // 100
        plan.append({
            "rows": int(visible.sum()),
            "cents": int(cents[visible].sum()),
            "revised": frozenset(o[revised & visible].tolist()),
            "late": frozenset(o[late].tolist()),
        })
    return plan


def _compute_revisions(start_date, end_date, slice_ts, source_conn, ds):
    from pyspark.sql import functions as F

    from diseasystore_spark.storage.scd2 import normalize_slice_ts

    k = (normalize_slice_ts(slice_ts) - REV_BASE_TS).days
    seed = ds.bench_seed
    o = F.col("o_orderkey")
    revs = sum(
        (F.when(_rev_hash(o, seed, j) < 3, 1).otherwise(0) for j in range(1, k + 1)),
        F.lit(0),
    )
    visible = (_rev_hash(o, seed, 0) >= 1) | (_late_slice(o, seed) <= k)
    vf = F.col("o_orderdate").cast("date")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        ds.spark.read.parquet(f"{source_conn}/orders.parquet")
        .where(visible)
        .select(
            o.alias("key_order"),
            F.col("o_custkey").alias("key_cust"),
            (cents + F.floor(cents * revs / 100).cast("long")).alias("n_rev_amount"),
            vf.alias("valid_from"),
            F.date_add(vf, REV_VALID_DAYS).alias("valid_until"),
        )
        .where(
            (F.col("valid_from") <= F.lit(end_date))
            & (F.col("valid_until") > F.lit(start_date))
        )
    )


def make_revision_store(spark, root: str, source: str, seed: int):
    from diseasystore_spark import Diseasystore, FeatureHandler, key_join_sum

    class RevisionStore(Diseasystore):
        _ds_map = {"n_rev_amount": "rev_orders"}
        rev_orders = FeatureHandler(compute=_compute_revisions, key_join=key_join_sum)

    ds = RevisionStore(spark, target_conn=root, source_conn=source,
                       slice_ts=REV_BASE_TS, verbose=False,
                       partition_granularity="month")
    ds.bench_seed = seed
    return ds


def read_back(df) -> tuple[int, int, int]:
    """Row count, payload sum (cents) and an order-insensitive row hash,
    in one Spark job."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64("key_order", "key_cust", "n_rev_amount",
                          "valid_from", "valid_until"), F.lit(1_000_000_007))
    r = df.agg(F.count(F.lit(1)), F.sum("n_rev_amount"), F.sum(h)).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


class Scd2Revisions(Workload):
    """Writes interleaved with reads on a growing SCD2 history (month
    layout). The set-up is a fresh store holding slice 0. Round k
    revises the source to slice k and runs one update (``get_feature``
    at slice k), one memoized re-read of slice k and one time-travel
    read of slice k // 2; the history carries over from round to round.
    """

    name = "scd2_revisions"
    headline = "update"

    def prepare(self) -> None:
        import pandas as pd

        self.source = os.path.join(self.work, "source")
        datagen.generate(self.source, self.seed, self.sf)
        orders = pd.read_parquet(os.path.join(self.source, "orders.parquet"))
        self.plan = revision_plan(orders, self.seed, REV_MAX_SLICES)
        self.ds = None

    def _get(self, k: int):
        ts = REV_BASE_TS + datetime.timedelta(days=k)
        return read_back(self.ds.get_feature("n_rev_amount", *REV_RANGE, slice_ts=ts))

    def _matches_plan(self, k: int):
        want = self.plan[k]

        def check(got):
            expect(got[:2] == (want["rows"], want["cents"]),
                   f"slice {k}: (rows, cents) {got[:2]} != "
                   f"{(want['rows'], want['cents'])}")
        return check

    def setup(self) -> None:
        """Drop the last store; a fresh store holding slice 0."""
        from diseasystore_spark import drop_diseasystore

        if self.ds is not None:
            drop_diseasystore(self.ds.backend, schema=self.ds.target_schema)
            shutil.rmtree(self.ds.target_conn, ignore_errors=True)
        self.ds = make_revision_store(self.spark, self.fresh_dir("store"),
                                      self.source, self.seed)
        got = self._get(0)
        self._matches_plan(0)(got)
        self.committed = {0: got}
        self.k = 0

    def round(self, rec: Recorder) -> None:
        if self.k + 1 >= REV_MAX_SLICES:
            self.setup()
        self.k = k = self.k + 1
        got = rec.op("update", lambda: self._get(k), check=self._matches_plan(k), slice=k)
        self.committed[k] = got
        rec.op("hit", lambda: self._get(k),
               check=lambda g: expect(g == self.committed[k], f"re-read of slice {k} differs"),
               slice=k)
        j = k // 2
        rec.op("time_travel", lambda: self._get(j),
               check=lambda g: expect(g == self.committed[j],
                                      f"slice {j} changed after later commits"),
               slice=j)

    def facts(self) -> dict:
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.ds.target_conn) for f in fs)
        return {"store_bytes_per_row": size / self.plan[self.k]["rows"],
                "slices": self.k}


# ------------------------------------------------------------ registry_mix

REGISTRY_LIST = (
    "q02_prevalence_by_nation",  # engine: SCD2 store + interlace + delta count
    "q23_minhash_lsh",  # pipeline.dedup shingling
)


class RegistryMix(Workload):
    """A fixed list of registry queries at a small scale factor; a round
    is one pass over the list, in an order the seed permutes."""

    name = "registry_mix"
    headline = "query"
    names = REGISTRY_LIST

    def prepare(self) -> None:
        import duckdb

        from diseasystore_spark.queries import ORACLES, QUERIES

        self.source = os.path.join(self.work, "source")
        datagen.generate(self.source, self.seed, self.sf)
        self.queries = {q: QUERIES[q] for q in self.names}
        con = duckdb.connect()
        for t in ("nation", "customer", "orders", "lineitem", "part",
                  "documents", "events"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.source, t)}.parquet'")
        self.expected = {q: canon_hash(con.sql(ORACLES[q]).df()) for q in self.names}
        con.close()
        self.rng = random.Random(self.seed)

    def setup(self) -> None:
        """A fresh TPC-H store behind q02, with its stratification
        feature written from scratch (a cold SCD2 write over q02's
        window); q02's observable follows on first touch."""
        from diseasystore_spark import queries

        queries._DS_CACHE.pop(self.source, None)
        queries._store(self.spark, self.source).get_feature(
            "nation", queries.START, queries.END).count()

    def round(self, rec: Recorder) -> None:
        """One pass over the list, in a seeded order. Each query is
        built and collected (every column materialized, as with
        ``bench.py``'s noop sink), and its rows are checked against the
        DuckDB oracle hash outside the timed region."""
        order = list(self.names)
        self.rng.shuffle(order)
        tracer = rec.tracer
        for q in order:
            fn = self.queries[q]

            def run(q=q, fn=fn):
                with tracer.span(f"registry.{q}.build") if tracer else nullcontext():
                    df = fn(self.spark, self.source)
                with tracer.span(f"registry.{q}.sink") if tracer else nullcontext():
                    return df.toPandas()

            def check(pdf, q=q):
                got = canon_hash(pdf)
                expect(got == self.expected[q], f"{q}: hash {got} != {self.expected[q]}")

            rec.op("query", run, check=check, query=q)
            release_jvm_garbage(self.spark)


WORKLOADS = {w.name: w for w in (Scd2Revisions, RegistryMix)}
DEFAULT_SF = {"scd2_revisions": 0.01, "registry_mix": 0.002}
