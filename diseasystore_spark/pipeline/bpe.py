"""Distributed BPE tokenizer training and encoding.

Byte-pair-encoding (Sennrich et al. 2016, public) trained the classic
word-level way: collect the corpus's distinct-word frequency table
once, then run the merge loop against THAT — so every round's cost
scales with the vocabulary (say 10^5 rows), not the corpus (10^10
documents). This is the exact structure that makes BPE training
feasible at 100 TB: the corpus is touched once (one shuffle for word
counts); the inherently sequential merge loop runs over a frame five
orders of magnitude smaller.

Round structure (per merge, all vocab-sized):
  1. explode each word's current symbol array into adjacent pairs,
     weighted by word frequency; aggregate pair counts — map-side
     combinable, tiny shuffle;
  2. take the best pair via a 1-row driver action (TakeOrdered top-1;
     deterministic tie-break on the pair string);
  3. rewrite every word's symbol array with a JVM-side fold that
     merges non-overlapping occurrences left-to-right.

The loop state (the word table) is ``localCheckpoint``-ed every few
rounds to keep lineage flat — same pattern as the connected-components
iteration.

Encoding (``bpe_encode``) applies the learned merge list per row with
an Arrow-batched ``mapInPandas`` running the standard greedy
rank-order merge loop (the HuggingFace/GPT-2 algorithm, public):
per-row Python over a dict of ~|merges| entries — vectorized batch
transfer, no JVM-side K-pass chain whose plan would grow with the
merge count.

No SQL oracle exists for the iterative trainer (same class as q35's
Lloyd iterations); correctness is property-tested against a pure-
Python reference implementation in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diseasystore_spark.pipeline._util import tokens_sql

__all__ = ["bpe_train", "bpe_encode", "word_frequencies"]

_EOW = "</w>"


def word_frequencies(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct-word frequency table: (word, freq). One corpus scan,
    one map-side-combinable shuffle; the output is vocabulary-sized."""
    words = tokens_sql(text_col, drop_empty=True)
    return (
        df.select(F.expr(f"explode({words}) AS word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_pair_expr(col: str, a: str, b: str) -> F.Column:
    """Fold that replaces non-overlapping adjacent (a, b) with a||b,
    left-to-right — the BPE merge step, as a JVM-side aggregate over
    the symbol array. The accumulator is the rewritten prefix; a
    pending flag is encoded by whether the last element equals ``a``
    AND was not itself just produced by a merge. To keep that
    distinction exact we fold structs of (out, just_merged)."""
    sa, sb = a.replace("\\", "\\\\").replace("'", "\\'"), b.replace(
        "\\", "\\\\"
    ).replace("'", "\\'")
    return F.expr(
        f"""
        aggregate(
          {col},
          struct(cast(array() as array<string>) as out, false as jm),
          (acc, x) -> CASE
            WHEN NOT acc.jm AND size(acc.out) > 0
                 AND element_at(acc.out, -1) = '{sa}' AND x = '{sb}'
            THEN struct(
              concat(slice(acc.out, 1, size(acc.out) - 1),
                     array(concat('{sa}', '{sb}'))), true)
            ELSE struct(concat(acc.out, array(x)), false)
          END,
          acc -> acc.out
        )
        """
    )


def bpe_train(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list (the tokenizer model). Words are whitespace
    tokens with a ``</w>`` end-of-word marker symbol appended (the
    original word-level BPE formulation); the initial alphabet is
    per-character.

    Deterministic: the best pair each round is
    ``max by (count, pair-string)`` — count ties break on the
    lexicographically LARGEST pair, reproducible across engines and
    runs (no hash-order dependence).
    """
    if num_merges < 0:
        raise ValueError("num_merges must be >= 0")
    spark = df.sparkSession
    words = (
        word_frequencies(df, text_col)
        .select(
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit(_EOW))
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for i in range(num_merges):
        pairs = (
            words.select(
                F.posexplode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1), "
                        "(s, j) -> struct(s as a, element_at(syms, j + 2) as b))"
                    )
                ).alias("__p", "pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
        )
        top = pairs.orderBy(
            F.col("n").desc(), F.col("pair.a").desc(), F.col("pair.b").desc()
        ).take(1)
        if not top or top[0]["n"] < 2:
            break
        a, b = top[0]["pair"]["a"], top[0]["pair"]["b"]
        merges.append((a, b))
        words = words.select(
            _merge_pair_expr("syms", a, b).alias("syms"), "freq"
        )
        if (i + 1) % checkpoint_every == 0:
            words = words.localCheckpoint()
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode each document with a learned merge list: whitespace
    words -> char symbols + ``</w>`` -> greedy lowest-rank-first merge
    loop (the standard BPE encoder). Output: (id, out_col:
    array<string>).

    Arrow-batched ``mapInPandas``; per-batch cost is a Python loop
    over the batch's tokens with an O(1) dict rank lookup — the
    deliberate Python-in-path exception (a K-merge JVM expression
    chain would grow the plan linearly with the model size).
    """
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}
    schema = f"{id_col} long, {out_col} array<string>"

    def encode_word(word: str) -> list[str]:
        syms = list(word) + [_EOW]
        while len(syms) > 1:
            best, best_rank = None, None
            for j in range(len(syms) - 1):
                r = ranks.get((syms[j], syms[j + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = j, r
            if best is None:
                break
            # merge ALL non-overlapping occurrences of that pair,
            # left-to-right (mirrors the training rewrite)
            a, b = syms[best], syms[best + 1]
            out, j = [], 0
            while j < len(syms):
                if (
                    j + 1 < len(syms)
                    and syms[j] == a
                    and syms[j + 1] == b
                ):
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        return syms

    def run(batches):
        for pdf in batches:
            toks = [
                [
                    t
                    for w in str(text).strip().split()
                    for t in encode_word(w)
                ]
                if text is not None
                else []
                for text in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], out_col: toks})

    return df.select(id_col, text_col).mapInPandas(run, schema)
