"""Seeded TPC-H-shaped source tables for the benchmark.

The tables have the column names and types of the repository's
TPC-H-shaped test data (TESTDATA.md: ``orders``, ``customer``,
``nation``, ``lineitem``, ``part``, ``documents``, ``events`` ...), so
every registry query and store reads them unchanged. The same
``(seed, sf)`` always writes the same rows; nothing is read from
outside the output directory.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_START = datetime.date(1992, 1, 1)
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date range
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "de", "zh"]
WORDS = (
    "the a fast slow small big key order sort table scan merge part window "
    "hash join batch stream spark data row column filter query group agg "
    "value line customer vector dup"
).split()
P_ADJ = ["cold", "small", "large", "blue", "red", "green", "steel", "dark"]
P_NOUN = ["widget", "bolt", "rod", "gear", "pipe", "valve", "nut", "spring"]


def _days(rng: np.random.Generator, n: int, start: datetime.date, span: int):
    base = np.datetime64(start, "D")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _ts_us(days) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the source tables for ``sf`` under ``out_dir``; return the
    row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust = max(150, int(150_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_events = max(1_000, int(100_000 * sf))
    n_docs = max(500, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part)
            )
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"],
            n_part,
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 200 * 0.1, 2),
    })

    order_days = _days(rng, n_orders, ORDER_START, ORDER_DAYS)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderdate": _ts_us(order_days),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })

    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    n_lines = len(l_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = (np.arange(n_lines) - np.repeat(starts, lines_per_order) + 1)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_lines),
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": l_number.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["O", "F"], n_lines),
        "l_shipdate": _ts_us(
            order_days[l_order]
            + rng.integers(1, 122, n_lines).astype("timedelta64[D]")
        ),
    })

    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, n_events)
    ).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, n_events // 66), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts = []
    for _ in range(n_docs):
        words = list(rng.choice(WORDS, int(rng.integers(20, 60))))
        if rng.random() < 0.3:  # repeated runs feed the repetition rules
            at = int(rng.integers(0, len(words)))
            words[at:at] = [words[at - 1]] * int(rng.integers(2, 5))
        texts.append(" ".join(words))
    for i in range(0, n_docs, 10):  # near-duplicates feed the LSH joins
        j = int(rng.integers(0, n_docs))
        texts[j] = texts[i] + " " + str(rng.choice(WORDS))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {
        "customer": n_cust, "orders": n_orders, "lineitem": n_lines,
        "part": n_part, "supplier": n_supp, "events": n_events,
        "documents": n_docs,
    }
