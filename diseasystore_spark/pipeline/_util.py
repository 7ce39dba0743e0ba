"""Shared pipeline utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    Small corpora often arrive as one parquet file = one partition,
    which serializes CPU-heavy per-row work (hashing, shingling,
    decoding) onto a single task. One cheap shuffle of the raw rows
    unlocks all cores. At cluster scale inputs are already many-
    partitioned and this is a no-op cost-wise relative to the per-row
    work it parallelizes.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# The word tokenizer and word n-grams of every Spark-side operator, as
# SQL text: a site embeds it in one ``F.expr``/``selectExpr`` (one Py4J
# round trip per expression, not one per Column node). ``col`` is any
# SQL expression of a string: a column name or a lambda variable.


def tokens_sql(col: str, drop_empty: bool = False) -> str:
    """Word tokens of ``col``: the space-trimmed text split on runs of
    whitespace. ``trim`` strips spaces only, so a leading or trailing
    tab or newline yields an empty first or last token, and empty text
    yields ``['']``; ``drop_empty`` removes them. NULL text gives NULL."""
    toks = f"split(trim({col}), '\\\\s+')"
    return f"array_remove({toks}, '')" if drop_empty else toks


def ngram_window_sql(w: str, n: int) -> str:
    """The word ``n``-grams of the token array ``w``, each its ``n``
    tokens joined by one space. ``w`` is referenced three times, so pass
    a column or a lambda variable, not an expression to re-evaluate."""
    # size(w) < n must yield []: sequence(1, 0) is DESCENDING ([1, 0])
    # in Spark, and slice(w, 0, n) throws — guard, don't clamp.
    return (
        f"if(size({w}) < {n}, cast(array() as array<string>), "
        f"transform(sequence(1, size({w}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({w}, i, {n}))))"
    )


def ngrams_sql(
    col: str,
    n: int,
    distinct: bool = False,
    drop_empty: bool = False,
    key: str | None = None,
) -> str:
    """Word ``n``-grams of ``col`` in text order; ``n = 1`` is the
    tokens. ``distinct`` keeps each gram's first occurrence;
    ``drop_empty`` removes the empty gram (only a 1-gram can be empty);
    ``key`` maps each gram through that hash function (``md5`` or
    ``xxhash64``, see :func:`gram_key`). A document shorter than ``n``
    tokens has no grams."""
    grams = tokens_sql(col)
    if n > 1:
        # tokenize once per row: the single-element transform binds the
        # token array as w, so codegen does not re-split per position
        grams = f"flatten(transform(array({grams}), w -> {ngram_window_sql('w', n)}))"
    if distinct:
        grams = f"array_distinct({grams})"
    if drop_empty:
        grams = f"array_remove({grams}, '')"
    if key is not None:
        grams = f"transform({grams}, g -> {key}(g))"
    return grams


def gram_key(portable: bool) -> str:
    """The gram hash function: ``md5`` (hex, any SQL engine reproduces
    it) when ``portable``, else ``xxhash64`` (64-bit, JVM-specific)."""
    return "md5" if portable else "xxhash64"
