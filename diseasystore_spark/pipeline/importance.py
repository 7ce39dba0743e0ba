"""DSIR-style data selection via importance resampling (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling",
NeurIPS — public method): featurize every document as hashed n-gram
bucket counts, fit bag-of-buckets unigram models for a TARGET corpus
(the distribution you want, e.g. curated/wiki-like text) and the RAW
corpus being selected from, and score each raw document by its
log-likelihood ratio  sum_b ct_b * (ln p_target(b) - ln p_raw(b)).
High scores = documents that look like the target; sampling
proportionally to exp(score) is the DSIR resampling step (the caller
composes that with ``pipeline.sample.hash_sample`` or a weighted
sampler — this module produces the weights).

Cross-engine determinism (the q58 oracle relies on it): the per-bucket
log-ratio is computed with ONE ``ln`` whose argument is a ratio of
exactly-representable integer-derived doubles (Laplace-smoothed
counts), scaled to integer micro units and rounded to bigint BEFORE
the per-document weighted sum — so the document score is a sum of
bigint products divided by nothing: exact in any engine.

Scale shape: feature extraction is a per-row array lambda (tokenize
once, hash n-grams in the lambda world) -> explode of BUCKET IDS, not
n-gram strings -> one map-side-combined groupBy per (id, bucket). The
model tables are ``num_buckets``-sized aggregates (combinable), and
the scoring join is an equi-join against a buckets-sized frame — AQE
broadcasts it for any realistic ``num_buckets``. No token-stream
shuffle anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diseasystore_spark.pipeline._util import ngrams_sql, spread


def hashed_ngram_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_buckets: int = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Hashed word-n-gram bucket counts per document:
    (id, bucket, ct). Documents with fewer than ``n`` tokens emit no
    rows. ``portable=True`` hashes buckets as
    ``conv(md5-prefix) % num_buckets`` (60-bit, reproducible in any
    md5-capable engine — the q58 oracle); default is ``xxhash64``.

    The n-gram array is mapped to bucket ids INSIDE the row (array
    lambda), so the explode/shuffle carries small integers, not n-gram
    strings."""
    return (
        _bucket_rows(df, id_col, text_col, n, num_buckets, portable)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )


def _bucket_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_buckets: int,
    portable: bool,
) -> DataFrame:
    """Exploded (id, bucket) stream — bucket ids computed inside the
    row's array lambda, so nothing wider than a bigint ever leaves
    the row."""
    if num_buckets < 2:
        raise ValueError("num_buckets must be >= 2")
    if portable:
        bucket_sql = (
            f"cast(conv(substr(md5(g), 1, 15), 16, 10) as bigint)"
            f" % {num_buckets}"
        )
    else:
        bucket_sql = f"pmod(xxhash64(g), {num_buckets})"
    # Explode the n-gram array first and derive the bucket id as a
    # top-level projection: inside the transform() lambda the md5
    # runs on the interpreted expression path, as a plain projection
    # it is whole-stage-codegen'd (same bytes -> same bucket). The
    # n-gram strings stay inside the scan stage — the explode feeds
    # the bucket projection and the map-side partial aggregate in one
    # codegen pipeline, so nothing wider than a bigint crosses any
    # exchange, exactly as before.
    grams = F.expr(ngrams_sql(text_col, n, drop_empty=True))
    return (
        spread(df)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(F.col(id_col), F.expr(bucket_sql).alias("bucket"))
    )


def importance_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_buckets: int = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Per-document DSIR importance score of ``df`` (the raw corpus)
    against ``target`` (the wanted distribution).

    Output: (id, n_features, score_micro) where ``score_micro =
    sum_b ct_b * lpm_b`` and ``lpm_b = round(ln( ((pct_b + 1)/(T + B))
    / ((qct_b + 1)/(Q + B)) ) * 1e6)`` — Laplace-smoothed target vs
    raw bucket probabilities, one ``ln`` per bucket, integer-micro
    rounded before the sum (bigint-exact across engines). Positive
    scores read "more target-like than raw-average"; ``n_features``
    is the document's n-gram count (scores of different-length
    documents are compared per DSIR as raw sums, matching the paper's
    unnormalized log-ratio).

    PURE plan builder: corpus totals T, Q enter as broadcast one-row
    aggregates; no driver action until the caller acts. The per-doc
    feature frame feeds ONLY the scoring join; each bucket model
    re-derives its own exploded stream (cheap narrow recompute,
    map-side combined — see the plan note below)."""
    feats = hashed_ngram_features(
        df, id_col, text_col, n=n, num_buckets=num_buckets, portable=portable
    )
    # The raw-corpus model is the bucket rollup of feats itself
    # (sum of per-doc counts == count of exploded rows): building it
    # FROM feats makes the two subtrees canonically identical up to
    # feats' exchange, so ReuseExchange runs the corpus
    # tokenize+hash+explode pass ONCE for both the scoring join and
    # the model. Both models are then localCheckpointed: each is
    # consumed twice below (its total and the model join), and they
    # are <= num_buckets rows by construction — without the
    # checkpoint each consumer re-ran a full corpus/target pass.
    q_model = (
        feats.groupBy("bucket")
        .agg(F.sum("ct").alias("qct"))
        .localCheckpoint()
    )
    p_model = (
        _bucket_rows(target, id_col, text_col, n, num_buckets, portable)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("pct"))
        .localCheckpoint()
    )
    q_total = q_model.agg(F.sum("qct").alias("__q"))
    p_total = p_model.agg(F.sum("pct").alias("__t"))
    model = (
        q_model.join(p_model, "bucket", "left")
        .select(
            "bucket",
            F.col("qct"),
            F.coalesce(F.col("pct"), F.lit(0)).alias("pct"),
        )
        .crossJoin(F.broadcast(q_total))
        .crossJoin(F.broadcast(p_total))
    )
    b = F.lit(float(num_buckets))
    p_prob = (F.col("pct") + 1).cast("double") / (F.col("__t") + b)
    q_prob = (F.col("qct") + 1).cast("double") / (F.col("__q") + b)
    lpm = F.round(F.log(p_prob / q_prob) * F.lit(1e6)).cast("bigint")
    scored = feats.join(model.select("bucket", lpm.alias("__lpm")), "bucket")
    return scored.groupBy(id_col).agg(
        F.sum("ct").cast("bigint").alias("n_features"),
        F.sum(F.col("ct") * F.col("__lpm")).cast("bigint").alias(
            "score_micro"
        ),
    )
