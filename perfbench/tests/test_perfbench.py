"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench/tests -q

The smoke test starts Spark twice (about two minutes on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import datagen  # noqa: E402
from perfbench.tracer import NAME_RE, Span, covered, self_times, summarize  # noqa: E402
from perfbench.workloads import REGISTRY_LIST, WORKLOADS, revision_plan  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", None, 0.0, 0, end=10.0),
        Span("a", 0, 1.0, 0, end=4.0),
        Span("b", 0, 3.0, 0, end=6.0),  # overlaps a: union 1..6
        Span("a.x", 1, 2.0, 0, end=3.0),
        Span("c", 0, 8.0, 0, end=12.0),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 3 - 1, 3, 1, 4])
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3)
    assert covered([], 0, 10) == 0


def _names(entries):
    return [e["name"] for e in entries]


def test_every_name_is_well_formed_and_unique():
    names = (_names(BENCH["workloads"]) + _names(BENCH["end_to_end"])
             + _names(BENCH["per_layer"]))
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in names), names
    assert len(names) == len(set(names))
    assert set(_names(BENCH["workloads"])) == set(WORKLOADS)


def test_traced_summary_emits_exactly_the_per_layer_metrics():
    emitted = set(summarize([], lambda lo, hi: {}, list(REGISTRY_LIST)))
    emitted |= {"session.jvm_start_s", "session.warm_s",
                "trace.overhead_s", "trace.overhead_ratio"}
    assert emitted == set(_names(BENCH["per_layer"]))


def _orders(tmp_path, seed):
    out = tmp_path / f"s{seed}"
    datagen.generate(str(out), seed, 0.01)
    return pd.read_parquet(out / "orders.parquet")


def _digest(path: Path) -> str:
    tables = sorted(path.glob("*.parquet"))
    return hashlib.sha256(b"".join(
        pd.read_parquet(t).to_csv().encode() for t in tables)).hexdigest()


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        datagen.generate(str(tmp_path / sub), seed, 0.001)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_revision_sets_follow_the_seed(tmp_path):
    orders = _orders(tmp_path, 5)
    a = revision_plan(orders, 5, 10)
    b = revision_plan(orders, 5, 10)
    c = revision_plan(orders, 6, 10)
    assert a == b
    assert [p["revised"] for p in a] != [p["revised"] for p in c]
    assert a[0]["revised"] == frozenset()
    late = a[0]["late"]
    assert late and a[-1]["rows"] > a[0]["rows"]  # late orders arrive
    n = a[0]["rows"] + len(late)
    for p in a[1:]:  # about 3% of payloads change per slice
        assert 0.005 * n < len(p["revised"]) < 0.08 * n


def test_registry_order_follows_the_seed():
    def order(seed):
        rng = random.Random(seed)
        out = []
        for _ in range(3):
            names = list(REGISTRY_LIST)
            rng.shuffle(names)
            out.append(names)
        return out

    assert order(3) == order(3)
    assert order(3) != order(4)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_at_sf0001_no_failed_ops(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(_names(BENCH["end_to_end"]))
    assert all(m["value"] > 0 for m in result["metrics"].values())
