"""MinHash signature and banding parity against independent builds.

The signature aggregate, the band explode and the first-band filter
are built as SQL text. These tests pin their values from outside:
signatures against a per-seed ``min(xxhash64(shingle, i))`` built
here from Python-side shingles (and the portable double hash computed
in Python), and the shared banding helper from both of its callers —
the one-corpus ``minhash_lsh_pairs`` and the two-corpus
``minhash_lsh_join`` run on the same corpus must find the same pairs.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from diseasystore_spark.pipeline.dedup import (
    _PORTABLE_P,
    minhash_lsh_join,
    minhash_lsh_pairs,
    minhash_signatures,
)

NUM_HASHES = 16
N = 3

_BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a stitch in time saves nine when the weather turns cold and wet",
    "all that glitters is not gold but some of it is quite shiny indeed",
    "the early bird catches the worm while the late cat sleeps in the sun",
    "to be or not to be that is the question whether tis nobler still",
]


def _docs() -> list[tuple[int, str]]:
    """20 fixed documents: 5 base texts, each with 3 variants (one word
    swapped, one word dropped, one appended), so some pairs share most
    shingles and the banding finds them."""
    docs = []
    for k, text in enumerate(_BASE):
        w = text.split()
        docs.append((4 * k, text))
        docs.append((4 * k + 1, " ".join(w[:-1] + ["again"])))
        docs.append((4 * k + 2, " ".join(w[:5] + w[6:])))
        docs.append((4 * k + 3, text + " today"))
    return docs


def _shingles(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i : i + N]) for i in range(len(w) - N + 1)}


@pytest.fixture(scope="module")
def corpus(spark):
    ids, texts = zip(*_docs())
    return spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": texts}))


def test_signatures_match_per_seed_xxhash64_mins(spark, corpus):
    rows = [(i, s) for i, t in _docs() for s in _shingles(t)]
    sh = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "shingle"])
    )
    per_seed = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ]
    )
    expect = {
        r["doc_id"]: [r[f"h{i}"] for i in range(NUM_HASHES)]
        for r in per_seed.collect()
    }
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(
            corpus, num_hashes=NUM_HASHES, n=N, portable=False
        ).collect()
    }
    assert len(expect) == 20
    assert got == expect


def test_portable_signatures_match_python_double_hash(corpus):
    def sig(text: str) -> list[int]:
        ab = []
        for s in _shingles(text):
            m = hashlib.md5(s.encode()).hexdigest()
            ab.append((int(m[:8], 16) % _PORTABLE_P, int(m[8:16], 16) % _PORTABLE_P))
        return [
            min((a + i * b) % _PORTABLE_P for a, b in ab)
            for i in range(NUM_HASHES)
        ]

    expect = {i: sig(t) for i, t in _docs()}
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(
            corpus, num_hashes=NUM_HASHES, n=N, portable=True
        ).collect()
    }
    assert got == expect


@pytest.mark.parametrize("portable", [False, True])
def test_lsh_join_on_one_corpus_matches_lsh_pairs(corpus, portable):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            corpus, num_hashes=NUM_HASHES, bands=4, n=N, portable=portable
        ).collect()
    }
    joined = {
        (r["left_id"], r["right_id"]): r["est_jaccard"]
        for r in minhash_lsh_join(
            corpus, corpus, num_hashes=NUM_HASHES, bands=4, n=N, portable=portable
        )
        .where(F.col("left_id") < F.col("right_id"))
        .collect()
    }
    # every base text's variants share most shingles: the banding must
    # find pairs inside at least 3 of the 5 groups, and none across
    assert len({a // 4 for a, _ in pairs}) >= 3, pairs
    assert all(a // 4 == b // 4 for a, b in pairs), pairs
    assert joined == pairs
