"""Text analysis operators: quality stats, language-ID heuristic,
document fingerprinting.

Everything is built-in Column expressions (split / regexp / array
lambdas / xxhash64) — map-only plans with no shuffle except where a
groupBy is inherent, and no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diseasystore_spark.pipeline._util import (
    ngram_window_sql,
    ngrams_sql,
    spread,
    tokens_sql,
)
from diseasystore_spark.trace import note

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]

# Tiny per-language marker lists for the n-gram/stopword language-ID
# heuristic. Real corpora would use proper profiles; the operator
# shape (score per language -> argmax) is what matters.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "y", "es", "un"],
}


def _sql_in_list(words: list[str]) -> str:
    return ",".join("'" + w.replace("'", "\\'") + "'" for w in words)


def token_stats_struct(text_col: str) -> Column:
    """Every token-derived counter in ONE pass over ONE tokenization:
    the token array is bound once as a lambda variable (the
    ``ngrams_sql`` single-element ``transform`` binding trick), and
    each membership count is an int-accumulator ``aggregate`` with an
    ``IN``-set test — no per-token array allocation, no re-split.

    Motivation (measured at sf1, 49k docs): higher-order functions
    are excluded from codegen subexpression elimination, so the
    previous formulation — each stat its own ``filter`` lambda over
    its own ``split`` — re-tokenized and re-scanned the token array
    once per REFERENCE (the language argmax alone touched its score
    expressions 8 times): 4.3s for the stats projection vs 1.9s for
    this struct. Semantics are bit-identical: counts are integers,
    and all ratio/rounding arithmetic happens downstream on the same
    operands.

    Fields: ``n_tokens``, ``n_distinct``, ``n_stop``, and ``c_<lang>``
    marker counts for every language in ``LANG_MARKERS``.
    """
    fields = [
        "size(w) AS n_tokens",
        "size(array_distinct(w)) AS n_distinct",
        f"aggregate(w, 0, (a, t) -> a + IF(t IN "
        f"({_sql_in_list(EN_STOPWORDS)}), 1, 0)) AS n_stop",
    ]
    for lang in sorted(LANG_MARKERS):
        fields.append(
            f"aggregate(w, 0, (a, t) -> a + IF(t IN "
            f"({_sql_in_list(LANG_MARKERS[lang])}), 1, 0)) AS c_{lang}"
        )
    return F.expr(
        f"element_at(transform(array({tokens_sql(text_col)}), "
        f"w -> struct({', '.join(fields)})), 1)"
    )


#: column name the two-projection stat consumers bind the struct to
_TS = "__ts"


def _stats_cols(text_col: str) -> list[Column]:
    """The per-row quality-stat columns (shared by ``text_stats`` and
    the single-pass curation pipeline). Token-derived counters come
    from the ``__ts`` struct column, which the caller must have
    projected via ``token_stats_struct(text_col)`` in a PRECEDING
    select (a column reference keeps the one-pass evaluation;
    inlining the struct expression per stat would re-evaluate it)."""
    n_chars = F.length(F.col(text_col))
    n_tokens = F.col(f"{_TS}.n_tokens")
    punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    digits = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", ""))
    n_tokens_d = n_tokens.cast("double")
    return [
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.col(f"{_TS}.n_distinct").alias("n_distinct_tokens"),
        F.round((n_chars - n_tokens + 1) / n_tokens_d, 4).alias("avg_token_len"),
        F.round(punct / n_chars.cast("double"), 4).alias("punct_ratio"),
        F.round(digits / n_chars.cast("double"), 4).alias("digit_ratio"),
        F.round(F.col(f"{_TS}.n_stop") / n_tokens_d, 4).alias(
            "stopword_ratio"
        ),
    ]


def _quality_col() -> Column:
    """Composite heuristic: length saturation x lexical diversity,
    penalized by punctuation/digit noise. Deterministic and
    SQL-expressible (oracle-checkable). References the _stats_cols
    aliases, so apply on a frame that already has them. (A function,
    not a module constant: Column construction needs a live
    SparkContext.)"""
    return F.round(
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
        * (F.col("n_distinct_tokens") / F.col("n_tokens").cast("double"))
        * (1 - F.col("punct_ratio"))
        * (1 - F.col("digit_ratio")),
        4,
    )


def text_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality statistics + a composite quality score.

    Columns: n_chars_calc, n_tokens, n_distinct_tokens, avg_token_len,
    punct_ratio, digit_ratio, stopword_ratio, quality_score.
    """
    with_ts = df.select(
        F.col(id_col),
        F.col(text_col),
        token_stats_struct(text_col).alias(_TS),
    )
    stats = with_ts.select(F.col(id_col), *_stats_cols(text_col))
    return stats.withColumn("quality_score", _quality_col())


def _langid_cols(text_col: str) -> tuple[Column, Column]:
    """(pred_lang, best_score) columns of the marker-token language
    heuristic — deterministic argmax, ties broken by language code.
    Marker counts come from the ``__ts`` struct (see ``_stats_cols``);
    the caller must have projected ``token_stats_struct(text_col)``
    in a preceding select."""
    n_tokens = F.col(f"{_TS}.n_tokens").cast("double")
    scores = {
        lang: F.round(F.col(f"{_TS}.c_{lang}") / n_tokens, 4)
        for lang in LANG_MARKERS
    }
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            pred
        )
    return pred, best


def langid_heuristic(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-token language scoring with deterministic argmax
    (ties broken by language code order). Output: (id, pred_lang,
    best_score)."""
    with_ts = df.select(
        F.col(id_col), token_stats_struct(text_col).alias(_TS)
    )
    pred, best = _langid_cols(text_col)
    return with_ts.select(
        F.col(id_col), pred.alias("pred_lang"), best.alias("best_score")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, public): for
    each word-n-gram order ``n`` the duplicate-n-gram fraction
    (``1 - distinct/total``) and the top n-gram's frequency fraction —
    the standard filters for catching degenerate repetitive text
    (boilerplate, keyword stuffing, decoding loops).

    Output per document: ``ngrams_{n}``, ``distinct_{n}``,
    ``top_{n}`` (count of the most frequent n-gram) plus rounded
    ``dup_frac_{n}`` and ``top_frac_{n}``. Documents with fewer than
    ``max(ns)`` tokens are dropped (no n-grams to measure).

    Zero shuffle: every statistic is a per-ROW array-lambda over the
    n-gram array (top count is an O(distinct x total) nested lambda —
    fine for documents, the per-row work is bounded by doc length)."""
    cols: list[Column] = [F.col(id_col)]
    guards = []
    for n in ns:
        ng = f"__ng{n}"
        total = F.size(F.col(ng))
        distinct = F.size(F.array_distinct(F.col(ng)))
        top = F.expr(
            f"array_max(transform(array_distinct({ng}), "
            f"g -> size(filter({ng}, x -> x = g))))"
        )
        cols += [
            total.alias(f"ngrams_{n}"),
            distinct.alias(f"distinct_{n}"),
            top.alias(f"top_{n}"),
            F.round(
                (total - distinct) / total.cast("double"), 4
            ).alias(f"dup_frac_{n}"),
            F.round(top / total.cast("double"), 4).alias(f"top_frac_{n}"),
        ]
        guards.append(F.size(F.col(ng)) > 0)
    with_ng = spread(df).select(
        F.col(id_col),
        F.col(text_col),
        *[F.expr(ngrams_sql(text_col, n)).alias(f"__ng{n}") for n in ns],
    )
    out = with_ng
    for g in guards:
        out = out.where(g)
    return out.select(*cols)


def term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document whitespace term frequencies:
    (id, term, tf, dl) where ``dl`` is the document length in tokens.

    Shape: narrow explode then ONE map-side-combined groupBy keyed
    (id, term) — the canonical scalable term-count plan (partial
    counts combine before the shuffle, so the shuffle carries the
    per-task vocabulary, not the token stream). ``dl`` is constant
    within a document and rides along via ``first``.

    The token array is materialized in its OWN projection before the
    generator: with ``size(tk)`` and ``explode(tk)`` in one select,
    the Generate operator re-evaluates the tokenization lambda per
    OUTPUT row (once per token, not once per document) — measured
    10x on the sf1 corpus (32 s -> 3.4 s for the tf frame)."""
    tk = F.expr(tokens_sql(text_col, drop_empty=True))
    base = df.select(F.col(id_col), tk.alias("__toks")).select(
        F.col(id_col),
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    )
    return base.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Top-k terms per document by TF-IDF.

    Output: (id, term, tf, df, score_micro, rank), rank 1..k by
    ``score_micro`` descending with deterministic term tie-break.

    ``score_micro = tf * round(ln(N / df) * 1e6)`` — the idf is
    integer-scaled to micro units BEFORE multiplying by tf, so the
    entire ranking key is a bigint. The only transcendental is one
    ``ln`` per distinct document frequency; rounding it to an integer
    makes the ranking reproducible across engines (a DuckDB oracle
    computes the identical score), instead of hoping two libm
    implementations agree to the last ulp.

    Plan: ``term_frequencies`` (one combined shuffle) -> per-term
    document frequencies (vocabulary-sized aggregate) -> equi-join on
    term -> per-document window. The tf frame feeds two consumers;
    deliberately NOT localCheckpointed — measured 3.6x slower with a
    checkpoint at sf0.1 (the narrow recompute + AQE runtime exchange
    reuse beat an explicit materialization of the tf frame). PURE
    plan builder: the corpus size N enters as a broadcast one-row
    aggregate, not a driver action — no job runs until the caller
    acts."""
    n_row = df.agg(F.count(F.lit(1)).alias("__n"))
    tf = term_frequencies(df, id_col, text_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    dfreq = dfreq.crossJoin(F.broadcast(n_row))
    idf_micro = F.round(
        F.log(F.col("__n") / F.col("df")) * F.lit(1e6)
    ).cast("bigint")
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        "tf",
        "df",
        (F.col("tf") * idf_micro).alias("score_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def bm25_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    min_df: int = 1,
) -> DataFrame:
    """Top-k terms per document by Okapi BM25.

    Output: (id, term, tf, df, dl, score_micro, rank).

    ``idf_micro = round(ln(1 + (N - df + 0.5) / (df + 0.5)) * 1e6)``
    (bigint), and
    ``score_micro = round(idf_micro * (tf * (k1+1)) /
    (tf + k1 * ((1-b) + b * dl / avgdl)))``.

    Cross-engine determinism argument (the q49 oracle relies on it):
    the single ``ln`` is rounded to integer micro units first; every
    remaining operation is IEEE-754 +,-,*,/ on identical operands —
    ``avgdl`` is an exact-integer-sum divided by a count (token
    counts sum exactly in doubles below 2^53), so two engines compute
    bit-identical scores, not merely close ones.

    PURE plan builder: N and avgdl enter as one broadcast one-row
    aggregate over the corpus — no driver actions at build time."""
    # tf feeds the df aggregate AND the scoring join; recompute beats
    # materialization here (see tfidf_top_terms).
    tf = term_frequencies(df, id_col, text_col)
    tk = F.expr(tokens_sql(text_col, drop_empty=True))
    stats = df.select(F.size(tk).alias("dl")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("dl") > 0, F.col("dl"))).alias("__s"),
        F.count(F.when(F.col("dl") > 0, F.lit(1))).alias("__c"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    dfreq = dfreq.crossJoin(F.broadcast(stats))
    avgdl = F.when(
        F.col("__c") > 0, F.col("__s").cast("double") / F.col("__c")
    ).otherwise(F.lit(1.0))
    idf_micro = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        * F.lit(1e6)
    ).cast("bigint")
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        "tf",
        "df",
        "dl",
        F.round(idf_micro * tf_norm).cast("bigint").alias("score_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    cheap version of the CCNet/Wikipedia-LM perplexity filter: train
    unigram probabilities ON the corpus itself, then score each
    document by its mean token log-probability. Unusually low scores
    mean rare-token noise (mojibake, code dumps); unusually high
    scores mean degenerate repetition of frequent tokens — both ends
    get cut in a real curation pipeline.

    Output: (id, dl, score_micro) where
    ``score_micro = round( sum_t tf_t * idf-like term / dl )`` with
    the per-term value ``round(ln(count_t / total_tokens) * 1e6)``
    (bigint): the ln is integer-scaled per distinct term BEFORE the
    per-doc weighted sum, so the whole score is
    (sum of bigint products) / dl — one IEEE division — and a SQL
    oracle reproduces it exactly (q52).

    Plan: ``term_frequencies`` (one combined shuffle) -> global term
    counts (vocabulary-sized, map-side combined) -> equi-join on term
    -> per-doc sum. PURE plan builder: the corpus token total enters
    as a broadcast one-row aggregate over the counts frame — no
    driver actions at build time. The tf frame feeds the count
    aggregate and the scoring join; recompute beats materialization
    (see tfidf_top_terms)."""
    tf = term_frequencies(df, id_col, text_col)
    # Materialize the vocabulary-sized count frame: it feeds the
    # corpus-total aggregate AND the scoring join, and each consumer
    # otherwise re-runs the term_frequencies shuffle (3 tf executions
    # observed in q91's plan). The tf frame itself stays lazy — its
    # one remaining recompute (counts build + scoring join) is the
    # documented recompute-beats-materialization trade; counts is
    # |vocab| rows, bounded at any corpus size.
    counts = (
        tf.groupBy("term").agg(F.sum("tf").alias("ct")).localCheckpoint()
    )
    total_row = counts.agg(F.sum("ct").alias("__total"))
    counts = counts.crossJoin(F.broadcast(total_row))
    lp_micro = F.round(
        F.log(F.col("ct").cast("double") / F.col("__total").cast("double"))
        * F.lit(1e6)
    ).cast("bigint")
    scored = tf.join(counts, "term").select(
        F.col(id_col),
        "dl",
        (F.col("tf") * lp_micro).alias("__contrib"),
    )
    return scored.groupBy(id_col).agg(
        F.first("dl").alias("dl"),
        F.round(F.sum("__contrib") / F.first("dl")).cast("bigint").alias(
            "score_micro"
        ),
    )


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.2,
    lang: str | None = "en",
    max_stopword_ratio: float | None = None,
) -> DataFrame:
    """End-to-end corpus curation (the C4-style filter chain): keep
    exactly one document per distinct content (the min-id
    representative), in the requested language, above the quality
    floor. Output: (id, pred_lang, quality_score, n_tokens).

    Collapse-first shape (the ``_exact_collapse`` pattern proven on
    the graph pipelines): ONE content-digest groupBy carries
    ``min(id)`` and ``any_value(text)`` — deterministic, every value
    in a group is identical — so the expensive token-stats / language
    projection runs ONCE PER DISTINCT CONTENT on the collapsed frame.
    No rep join (the previous join recomputed the stats projection on
    both branches), no trailing distinct; the single shuffle moves
    each distinct text exactly once, and on dup-heavy web corpora the
    stat work scales with distinct contents, not corpus rows.
    """
    pred, best = _langid_cols(text_col)
    collapsed = (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.md5(F.col(text_col)).alias("__digest"),
        )
        .groupBy("__digest")
        .agg(
            F.min(id_col).alias(id_col),
            F.any_value(F.col(text_col)).alias(text_col),
        )
    )
    with_ts = collapsed.select(
        F.col(id_col),
        F.col(text_col),
        token_stats_struct(text_col).alias(_TS),
    )
    out = with_ts.select(
        F.col(id_col),
        *_stats_cols(text_col),
        pred.alias("pred_lang"),
    ).withColumn("quality_score", _quality_col())
    out = out.where(F.col("quality_score") >= min_quality)
    if lang is not None:
        out = out.where(F.col("pred_lang") == lang)
    if max_stopword_ratio is not None:
        out = out.where(F.col("stopword_ratio") <= max_stopword_ratio)
    return out.select(id_col, "pred_lang", "quality_score", "n_tokens")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = 512,
    chunk_col: str = "chunk_id",
) -> DataFrame:
    """Split documents into training-ready chunks of at most
    ``max_chars`` characters, breaking only at whitespace.

    Token k's start offset in the space-rejoined document decides its
    chunk (``floor(start / max_chars)``), then chunk ids are densified
    per document (a token longer than the budget would otherwise leave
    gaps). Tokens never split mid-word. Greedy-by-offset semantics: a
    token *starting* before a chunk boundary belongs to that chunk
    even if it ends past it, so a chunk may overflow ``max_chars`` by
    at most one token length (the same bounded straddle slack as
    ``pipeline.sample.pack_sequences``) — the formulation that keeps
    chunk assignment a pure window expression instead of a stateful
    scan.

    Output: (id, chunk_id, chunk_text, n_chars), deterministic.

    Scale shape: posexplode -> two windows + one groupBy, ALL
    partitioned by the document id, so the operator scales with the
    corpus regardless of document count; per-document work is linear.
    The chunk text is rebuilt order-exactly via ``array_sort`` of
    (position, token) structs — ``collect_list`` alone has no ordering
    guarantee after a shuffle.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.expr(tokens_sql(text_col))).alias("__pos", "__tok"),
    ).where(F.col("__tok") != "")
    w = Window.partitionBy(id_col).orderBy("__pos")
    start = F.coalesce(
        F.sum(F.length("__tok") + 1).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    with_raw = toks.withColumn(
        "__raw", F.floor(start / F.lit(max_chars))
    )
    dense = F.dense_rank().over(
        Window.partitionBy(id_col).orderBy("__raw")
    ) - 1
    return (
        with_raw.withColumn(chunk_col, dense.cast("long"))
        .groupBy(id_col, chunk_col)
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(__pos, __tok))),"
                    " s -> s.__tok)"
                ),
            ).alias("chunk_text")
        )
        .withColumn("n_chars", F.length("chunk_text"))
    )


def quality_outliers(
    df: DataFrame,
    metric_col: str = "n_chars",
    id_col: str = "doc_id",
    group_col: str | None = None,
    lo: float = 0.05,
    hi: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Percentile-based outlier flagging of a per-document metric —
    the winsorizing filter every curation pipeline runs on lengths
    and quality scores (drop the freakishly short/long tails, per
    language when ``group_col`` is set).

    Output: (id, metric, lo_cut, hi_cut, is_outlier) for every
    document; cuts are rounded to 4 decimals BEFORE the comparison so
    the flag is reproducible across engines (q63's oracle compares
    against DuckDB's ``quantile_cont`` — exactly equal to Spark's
    exact ``percentile`` with linear interpolation).

    ``exact=True`` (default, oracle-checkable) buffers each group's
    values in the percentile aggregate — fine for grouped corpora
    (per-language groups on a 1000-executor cluster). At extreme
    scale set ``exact=False`` for ``percentile_approx`` (same plan
    shape, sketch aggregate, no longer bit-reproducible).

    Plan: ONE grouped percentile aggregate (group-count rows) joined
    back — broadcast for any realistic group count."""
    pfun = F.percentile if exact else F.percentile_approx
    gcol = group_col if group_col is not None else F.lit(1).alias("__g")
    cuts = df.groupBy(gcol).agg(
        F.round(pfun(metric_col, F.lit(lo)), 4).alias("lo_cut"),
        F.round(pfun(metric_col, F.lit(hi)), 4).alias("hi_cut"),
    )
    joined = (
        df.join(F.broadcast(cuts), group_col, "left")
        if group_col is not None
        else df.crossJoin(F.broadcast(cuts.drop("__g")))
    )
    return joined.select(
        F.col(id_col),
        F.col(metric_col),
        "lo_cut",
        "hi_cut",
        (
            (F.col(metric_col) < F.col("lo_cut"))
            | (F.col(metric_col) > F.col("hi_cut"))
        ).alias("is_outlier"),
    )


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Canonical text normalization — the first pass of every curation
    pipeline: collapse whitespace runs to single spaces, strip
    remaining C0/DEL control characters, trim, optionally lowercase.

    Output: (id, text_norm, n_chars_raw, n_chars_norm, changed).

    Portability note (the q60 oracle is exact): the whitespace class
    is written out explicitly as ``[ \\t\\n\\f\\r\\x0B]`` rather than
    ``\\s`` — Java regex includes U+000B in ``\\s`` but RE2 does not,
    so the shorthand silently diverges across engines on vertical-tab
    input. Map-only plan, zero shuffle, whole-stage codegen."""
    norm: Column = F.regexp_replace(
        F.col(text_col), r"[ \t\n\f\r\x0B]+", " "
    )
    norm = F.regexp_replace(norm, r"[\x00-\x1F\x7F]", "")
    norm = F.trim(norm)
    if lowercase:
        norm = F.lower(norm)
    return df.select(
        F.col(id_col),
        norm.alias("text_norm"),
        F.length(text_col).cast("bigint").alias("n_chars_raw"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        (norm != F.col(text_col)).alias("changed"),
    )


def build_vocab(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Corpus vocabulary with a frequency floor — the tokenizer-prep
    artifact (terms worth a vocabulary slot). Output: (term, ct) with
    ``ct >= min_count``.

    Plan: ``term_frequencies`` (one map-side-combined shuffle keyed
    (id, term)) -> vocabulary-sized term aggregate (combinable again).
    The shuffle carries per-task vocabularies, not token streams."""
    tf = term_frequencies(df, id_col, text_col)
    return (
        tf.groupBy("term")
        .agg(F.sum("tf").cast("bigint").alias("ct"))
        .where(F.col("ct") >= min_count)
    )


def vocab_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a corpus-trained
    (or caller-supplied) vocabulary — the standard pre-tokenizer
    health check: documents with high OOV rates are mojibake, code
    dumps, or the wrong language, and get cut or routed.

    Output: (id, n_tokens, n_oov, oov_ratio). ``vocab`` (a (term, ...)
    DataFrame, e.g. a real tokenizer's vocabulary) overrides the
    corpus-trained ``build_vocab(min_count=...)`` default.

    Plan: term frequencies -> LEFT equi-join against the vocabulary
    (OOV = no match; the vocab side is vocabulary-sized, so AQE
    broadcasts it for any realistic vocab) -> one per-document
    aggregate. No token-stream shuffle: the join and agg run on the
    (id, term, tf) frame, already combined per document."""
    tf = term_frequencies(df, id_col, text_col)
    v = (
        vocab.select("term")
        if vocab is not None
        else build_vocab(df, id_col, text_col, min_count).select("term")
    )
    flagged = tf.join(
        v.withColumn("__in", F.lit(True)), "term", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in").isNull(), F.col("tf")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_ratio",
            F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 4),
        )
    )


def tokenize_to_ids(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    vocab: DataFrame | None = None,
    unk_id: int = 0,
    rank_buckets: int | None = None,
) -> DataFrame:
    """Map every token to a deterministic integer vocabulary id — the
    final tokenize-to-tensors prep step. Ids are frequency-ranked
    (most frequent term = id 1, ties broken by term — the convention
    real tokenizers use so frequent tokens get small ids);
    out-of-vocabulary tokens map to ``unk_id``.

    Output: one row per token position — (id, pos, term, term_id) —
    the exploded form that joins/aggregates cleanly downstream
    (``collect_list(struct(pos, term_id))`` + ``array_sort`` rebuilds
    the id sequence per document, the same order-exact pattern as
    ``chunk_documents``).

    Plan: corpus vocab (``build_vocab``: one combined shuffle) ->
    frequency-rank ids via ONE window over the vocabulary frame
    (vocab-sized, not corpus-sized — the only single-task stage) ->
    posexplode of the token stream -> broadcast-friendly equi-join on
    term (AQE broadcasts any realistic vocabulary).

    ``rank_buckets=N`` replaces the vocab-frame global window with the
    two-level rank (the ``epoch_shuffle`` pattern): range-partition
    the vocabulary on the rank order, row-number WITHIN partitions,
    and add per-partition offsets from an N-row count frame — the only
    single-task stage is over N rows. The ids are IDENTICAL for any
    bucketing because (ct desc, term) is a strict total order (terms
    are unique), so offset + local rank reproduces the exact global
    rank regardless of where the range boundaries fall. Use it when
    the vocabulary itself is too large to sort in one task."""
    v = (
        vocab
        if vocab is not None
        else build_vocab(df, id_col, text_col, min_count)
    )
    if rank_buckets:
        rv = v.repartitionByRange(
            rank_buckets, F.col("ct").desc(), F.col("term")
        ).withColumn("__p", F.spark_partition_id())
        per = rv.groupBy("__p").agg(F.count(F.lit(1)).alias("__n"))
        # N-row frame: cumulative offset of each range partition
        offs = per.select(
            "__p",
            (
                F.sum("__n").over(
                    Window.orderBy("__p").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                )
            ).alias("__off"),
        ).fillna(0, subset=["__off"])
        wloc = Window.partitionBy("__p").orderBy(
            F.col("ct").desc(), F.col("term")
        )
        ranked = (
            rv.withColumn("__rn", F.row_number().over(wloc))
            .join(offs, "__p")
            .select(
                "term",
                (F.col("__off") + F.col("__rn")).cast("bigint").alias(
                    "term_id"
                ),
            )
        )
    else:
        ranked = v.select(
            "term",
            F.row_number()
            .over(Window.orderBy(F.col("ct").desc(), F.col("term")))
            .cast("bigint")
            .alias("term_id"),
        )
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(tokens_sql(text_col, drop_empty=True))
        ).alias("pos", "term"),
    )
    return toks.join(ranked, "term", "left").select(
        F.col(id_col),
        F.col("pos").cast("bigint").alias("pos"),
        "term",
        F.coalesce(F.col("term_id"), F.lit(unk_id).cast("bigint")).alias(
            "term_id"
        ),
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-global line-level deduplication (the C4 filter shape —
    Raffel et al. 2020, public: occurrences of a repeated span are
    removed from every document but one). For each distinct line the
    globally-FIRST occurrence (ordered by ``(id, position)``) is kept;
    every other occurrence is dropped, and documents are reassembled
    from their surviving lines in order.

    Lines shorter than ``min_chars`` are exempt (always kept): real
    corpora are full of blank lines and one-character separators that
    should not collapse to a single global survivor. ``line_sep`` is a
    LITERAL separator string (regex-quoted via ``\\Q…\\E`` for the
    split, used verbatim for reassembly).

    Output: (id, text_clean, n_lines, n_lines_kept) for EVERY input
    document — a document whose every line lost the dedup race
    survives with ``text_clean = ''`` so the caller decides the
    drop policy.

    Scale shape: the first-occurrence table is ONE map-side-combinable
    ``min(struct(id, pos))`` groupBy keyed on the line's md5 digest —
    the shuffle carries 16-byte digests, not line text, and a
    boilerplate line repeated a billion times combines to one row per
    map task before the exchange (no skewed reducer). The digest
    equi-join back is AQE-skew-splittable; reassembly is one groupBy
    on the document id with order restored via ``array_sort`` of
    (pos, line) structs (``collect_list`` alone has no post-shuffle
    ordering guarantee)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), f"\\Q{line_sep}\\E")
        ).alias("__pos", "__line"),
    )
    keyed = lines.withColumn(
        "__d",
        F.when(F.length("__line") >= min_chars, F.md5("__line")),
    )
    first = (
        keyed.where(F.col("__d").isNotNull())
        .groupBy("__d")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"), F.col("__pos").alias("p")
                )
            ).alias("__first")
        )
    )
    kept = F.col("__d").isNull() | (
        (F.col(id_col) == F.col("__first.i"))
        & (F.col("__pos") == F.col("__first.p"))
    )
    return (
        keyed.join(first, "__d", "left")
        .withColumn("__kept", kept)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("__kept").cast("int")).cast("bigint").alias(
                "n_lines_kept"
            ),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "CASE WHEN __kept THEN struct(__pos, __line) END)), "
                    "s -> s.__line)"
                ),
                line_sep,
            ).alias("text_clean"),
        )
        .select(id_col, "text_clean", "n_lines", "n_lines_kept")
    )


def remove_boilerplate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_sep: str = "\n\n",
    min_chars: int = 20,
    max_df: int = 10,
    near: bool = False,
    k: int = 9,
    window: int = 4,
    min_containment: float = 0.6,
    containment_max_df: int | None = None,
    pair_method: str = "containment",
    num_hashes: int = 16,
    bands: int = 4,
    minhash_ngram: int = 3,
    min_est_jaccard: float = 0.5,
    max_bucket: int | None = None,
    density_guard: str = "raise",
) -> DataFrame:
    """Boilerplate-paragraph removal — the practical web-crawl cleaner
    (C4 / CCNet-style, public): split every document into paragraphs,
    find paragraphs whose content recurs across MORE than ``max_df``
    DISTINCT documents (navigation, headers, cookie banners), drop
    every occurrence, and reassemble the documents. Unlike
    ``dedup_lines`` (keep globally-first occurrence), boilerplate is
    removed everywhere — a span that appears in half the crawl is
    noise in all of its hosts.

    ``near=True`` composes the paragraph table with
    ``containment_pairs`` (winnowing fingerprints, ``portable``
    hashing) + ``dedup_components``: near-identical paragraph variants
    (dynamic dates, counters) CLUSTER first, and a cluster counts as
    boilerplate when the union of its members' host documents exceeds
    ``max_df`` — catching templated boilerplate that exact content
    matching misses. Exact mode is the ``near=False`` fast path.

    Paragraphs shorter than ``min_chars`` are exempt (always kept):
    separators and stub lines should not be removable.

    ``containment_max_df`` caps a winnowing fingerprint's document
    frequency across DISTINCT paragraph contents (``containment_pairs``'
    hot-fingerprint guard): a 9-char shingle shared by thousands of
    unrelated paragraphs is stopword noise whose self-join is
    quadratic in its DF, while a genuinely templated paragraph still
    clusters through its remaining fingerprints. Set it for
    low-entropy corpora; the q104 oracle applies the identical cap.

    ``pair_method="minhash"`` is the banded-LSH scale path for the
    ``near=True`` clustering (the q59 shape): paragraph variants pair
    through banded MinHash over ``minhash_ngram``-word shingles
    (``num_hashes``/``bands``/``min_est_jaccard``/``max_bucket``
    forwarded to ``minhash_lsh_pairs``) instead of the exact
    winnowing-containment join — per-paragraph signature cost is flat
    and the candidate join is band-bucketed, so a 100-TB crawl never
    pays a fingerprint self-join. Candidate-based, so recall is
    probabilistic where exact containment is deterministic; the q104
    oracle pins the default ``"containment"`` mode.

    Output: ``(id, text_clean, n_paras, n_paras_kept)`` for EVERY
    input document.

    Scale shape: the paragraph table shuffles 16-byte digests (one
    md5 per paragraph, ``min(struct)``-combinable aggregations); the
    containment stage runs over DISTINCT paragraph contents only
    (fingerprint-bucketed, never all-pairs); the boilerplate digest
    list is ``<= |boilerplate contents|`` — broadcast into a
    ``left_anti``-shaped null-preserving join; reassembly is
    ``dedup_lines``'s array_sort/array_join groupBy.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), f"\\Q{para_sep}\\E")
        ).alias("__pos", "__para"),
    ).withColumn(
        "__d",
        F.when(F.length("__para") >= min_chars, F.md5("__para")),
    )
    eligible = paras.where(F.col("__d").isNotNull())
    if near:
        from diseasystore_spark.pipeline.dedup import (
            containment_pairs,
            dedup_components,
            minhash_lsh_pairs,
        )

        contents = eligible.select("__d", "__para").dropDuplicates(["__d"])
        if pair_method == "minhash":
            pairs = minhash_lsh_pairs(
                contents,
                id_col="__d",
                text_col="__para",
                num_hashes=num_hashes,
                bands=bands,
                n=minhash_ngram,
                min_est_jaccard=min_est_jaccard,
                portable=True,
                max_bucket=max_bucket,
            )
        elif pair_method == "containment":
            pairs = containment_pairs(
                contents,
                id_col="__d",
                text_col="__para",
                k=k,
                window=window,
                min_containment=min_containment,
                portable=True,
                max_df=containment_max_df,
                density_guard=density_guard,
            )
        else:
            raise ValueError(
                f"pair_method must be 'containment' or 'minhash', "
                f"got {pair_method!r}"
            )
        comps = dedup_components(pairs).select(
            F.col("id").alias("__d"), F.col("component").alias("__g")
        )
        # Only the digest/group/host-id columns feed the two branches
        # below (cluster host counts, boilerplate digest list) — strip
        # the paragraph text BEFORE materializing, and checkpoint so
        # the paragraph-split + cluster join doesn't re-execute per
        # branch (digest rows are ~50 bytes/paragraph, no payloads).
        keyed = (
            eligible.select(id_col, "__d")
            .join(comps, "__d", "left")
            .withColumn("__g", F.coalesce(F.col("__g"), F.col("__d")))
            .localCheckpoint()
        )
        gdf = keyed.groupBy("__g").agg(
            F.countDistinct(id_col).alias("__ddf")
        )
        boiler = (
            keyed.select("__d", "__g")
            .distinct()
            .join(gdf.where(F.col("__ddf") > max_df), "__g")
            .select("__d")
        )
    else:
        boiler = (
            eligible.groupBy("__d")
            .agg(F.countDistinct(id_col).alias("__ddf"))
            .where(F.col("__ddf") > max_df)
            .select("__d")
        )
    marked = paras.join(
        F.broadcast(boiler.withColumn("__boiler", F.lit(True))), "__d", "left"
    ).withColumn("__kept", F.col("__boiler").isNull())
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("__kept").cast("int")).cast("bigint").alias(
                "n_paras_kept"
            ),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "CASE WHEN __kept THEN struct(__pos, __para) END)), "
                    "s -> s.__para)"
                ),
                para_sep,
            ).alias("text_clean"),
        )
        .select(id_col, "text_clean", "n_paras", "n_paras_kept")
    )


def doc_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 9,
    window: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03
    — public algorithm): hash every character k-gram, then keep the
    minimum hash of each sliding window of ``window`` k-grams.

    Returns (id, fingerprint) rows, distinct per document — a compact
    signature set robust to local edits, used for copy detection.
    Array-lambda implementation: the per-row work is
    O(len * window) JVM ops, no shuffle until the final distinct.

    ``portable=True`` hashes k-grams as 15-hex-char md5 prefixes
    (fingerprint column becomes string): lexicographic min equals the
    encoded integer's min, and any md5-capable engine reproduces the
    exact fingerprint set (q27's DuckDB oracle).
    """
    gram_hash = (
        f"substr(md5(substring({text_col}, i, {k})), 1, 15)"
        if portable
        else f"xxhash64(substring({text_col}, i, {k}))"
    )
    grams = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> {gram_hash})"
    )
    mins = F.expr(
        f"transform(sequence(1, greatest(size(__grams) - {window - 1}, 1)), "
        f"i -> array_min(slice(__grams, i, {window})))"
    )
    return (
        spread(df).select(F.col(id_col), grams.alias("__grams"))
        .select(F.col(id_col), F.explode(F.array_distinct(mins)).alias("fingerprint"))
        .distinct()
    )


def perplexity_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    coarse_div: int = 100_000,
    scored: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style head/middle/tail split per language (public:
    Wenzek et al., "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data", 2020): rank every document within
    its language by LM score (best first) and cut the ranking into
    terciles — ``head`` is the cleanest third, ``tail`` the third a
    curation pipeline drops or down-samples.

    Output: ``(id, lang, score_micro, bucket)`` with bucket in
    {'head','middle','tail'}; ranking is ``(score_micro DESC, id)``
    so the split is total-order deterministic.

    Scale shape — the naive form is ``row_number() OVER (PARTITION BY
    lang ORDER BY score)``: one window task PER LANGUAGE, each
    holding that language's whole corpus (English = most of a crawl).
    This uses the same two-level rank as ``epoch_shuffle`` /
    ``select_within_budget``, nested per language: quantize the score
    (``DIV coarse_div`` — truncating division is monotone, order
    preserved), per-(lang, bucket) counts (map-side combinable),
    an exclusive prefix over the tiny per-lang bucket frame, and an
    intra-bucket ``row_number`` partitioned by (lang, bucket).
    Identical ranks to the naive window (the q91 oracle IS the naive
    form); no partition ever holds more than one (lang, score-band).

    ``scored``: pass a precomputed ``unigram_logprob_score`` frame
    (id, dl, score_micro) to reuse it across splits; default trains
    on ``df`` itself.
    """
    if coarse_div <= 0:
        raise ValueError("coarse_div must be positive")
    s = (
        scored
        if scored is not None
        else unigram_logprob_score(df, id_col, text_col)
    )
    # base feeds the bucket-count aggregate AND the final rank join;
    # un-materialized, the whole LM scoring pipeline (train + score)
    # re-executes per consumer. Narrow O(docs) frame (id, score,
    # lang, bucket) — the guide's decide-with-small-rows shape.
    base = (
        s.select(F.col(id_col), "score_micro")
        .join(df.select(F.col(id_col), F.col(lang_col)), id_col)
        .withColumn("__b", F.expr(f"score_micro DIV {coarse_div}"))
        .localCheckpoint()
    )
    # (lang, score-band) rows — tiny; consumed by both the prefix
    # window and the per-language totals.
    counts = base.groupBy(lang_col, "__b").agg(
        F.count(F.lit(1)).alias("__n")
    ).localCheckpoint()
    gw = (
        Window.partitionBy(lang_col)
        .orderBy(F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = counts.select(
        lang_col,
        "__b",
        F.coalesce(F.sum("__n").over(gw), F.lit(0)).alias("__prefix"),
    )
    totals = counts.groupBy(lang_col).agg(F.sum("__n").alias("__total"))
    iw = Window.partitionBy(lang_col, "__b").orderBy(
        F.col("score_micro").desc(), F.col(id_col)
    )
    ranked = (
        base.join(F.broadcast(prefixes), [lang_col, "__b"])
        .join(F.broadcast(totals), lang_col)
        .withColumn("__r", F.col("__prefix") + F.row_number().over(iw))
    )
    pos = (F.col("__r") - 1) * 3
    return ranked.select(
        F.col(id_col),
        F.col(lang_col),
        "score_micro",
        F.when(pos < F.col("__total"), F.lit("head"))
        .when(pos < 2 * F.col("__total"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


#: Gopher rule-7 stopword list (Rae et al. 2021, appendix A1.1 —
#: public): a document must contain at least 2 of these.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_word_pct: int = 10,
    max_bullet_line_pct: int = 90,
    max_ellipsis_line_pct: int = 30,
    min_alpha_word_pct: int = 80,
    min_stopwords: int = 2,
) -> DataFrame:
    """The published Gopher quality rules (Rae et al. 2021, appendix
    A1.1 — public) as one shuffle-free projection: per document,
    evaluate every rule and return the verdict plus each rule's
    boolean (full diagnosability, not just a pass bit).

    Rules (thresholds as integer percentages so every comparison is
    integer cross-multiplication — bit-identical in any engine, no
    float division anywhere):

    - ``r_words``: ``min_words <= word count <= max_words``
    - ``r_mean_len``: mean word length in
      ``[min_mean_word_len, max_mean_word_len]`` (as
      ``lo * n <= total_chars <= hi * n``)
    - ``r_symbols``: symbol-to-word ratio (``#`` and ``…``
      occurrences) at most ``max_symbol_word_pct`` per 100 words
    - ``r_bullets``: fewer than ``max_bullet_line_pct``% of lines
      start with a bullet (``•`` or ``- ``)
    - ``r_ellipsis``: fewer than ``max_ellipsis_line_pct``% of lines
      end with an ellipsis (``…`` or ``...``)
    - ``r_alpha``: at least ``min_alpha_word_pct``% of words contain
      an alphabetic character
    - ``r_stopwords``: at least ``min_stopwords`` DISTINCT
      ``GOPHER_STOPWORDS`` members present

    Tokenization is the module-wide convention (``\\s+`` split of the
    trimmed text, the same split every stats/langid/oracle query
    uses; note SQL ``trim`` strips SPACES only — identical in Spark
    and DuckDB, but different from Python ``str.strip()``, which also
    strips newlines); lines split on ``\\n``. Both arrays are bound ONCE via the
    single-element ``transform`` trick (``token_stats_struct``) so
    each counter is an int-accumulator ``aggregate`` over an array
    materialized exactly once — per-row JVM work, whole-stage codegen,
    zero shuffles, zero Python.

    Output: ``(id, n_words, n_lines, r_* booleans..., passed)``.
    """
    sq = "'"
    stop_terms = " + ".join(
        f"IF(array_contains(w, {sq}{s}{sq}), 1, 0)" for s in GOPHER_STOPWORDS
    )
    counters = (
        "struct("
        "size(w) AS n_words, "
        "size(l) AS n_lines, "
        "aggregate(w, 0, (a, t) -> a + length(t)) AS word_chars, "
        "aggregate(w, 0, (a, t) -> a + IF(t rlike '[A-Za-z]', 1, 0)) "
        "AS alpha_words, "
        f"{stop_terms} AS stop_distinct, "
        "aggregate(l, 0, (a, x) -> a + IF(x LIKE '•%' "
        "OR x LIKE '- %', 1, 0)) AS bullet_lines, "
        "aggregate(l, 0, (a, x) -> a + IF(x LIKE '%…' "
        "OR x LIKE '%...', 1, 0)) AS ellipsis_lines)"
    )
    stats = F.expr(
        f"element_at(transform(array({tokens_sql(text_col)}), "
        f"w -> element_at(transform(array(split({text_col}, '\\n')), "
        f"l -> {counters}), 1)), 1)"
    )
    symbols = (
        F.length(text_col) - F.length(F.regexp_replace(text_col, "#", ""))
    ) + (
        F.length(text_col) - F.length(F.regexp_replace(text_col, "…", ""))
    )
    g = df.select(
        F.col(id_col), stats.alias("__g"), symbols.alias("__sym")
    ).select(
        F.col(id_col),
        F.col("__g.n_words").alias("n_words"),
        F.col("__g.n_lines").alias("n_lines"),
        (
            (F.col("__g.n_words") >= min_words)
            & (F.col("__g.n_words") <= max_words)
        ).alias("r_words"),
        (
            (min_mean_word_len * F.col("__g.n_words") <= F.col("__g.word_chars"))
            & (F.col("__g.word_chars") <= max_mean_word_len * F.col("__g.n_words"))
        ).alias("r_mean_len"),
        (100 * F.col("__sym") <= max_symbol_word_pct * F.col("__g.n_words")).alias(
            "r_symbols"
        ),
        (
            100 * F.col("__g.bullet_lines")
            < max_bullet_line_pct * F.col("__g.n_lines")
        ).alias("r_bullets"),
        (
            100 * F.col("__g.ellipsis_lines")
            < max_ellipsis_line_pct * F.col("__g.n_lines")
        ).alias("r_ellipsis"),
        (
            100 * F.col("__g.alpha_words")
            >= min_alpha_word_pct * F.col("__g.n_words")
        ).alias("r_alpha"),
        (F.col("__g.stop_distinct") >= min_stopwords).alias("r_stopwords"),
    )
    rules = [
        "r_words", "r_mean_len", "r_symbols", "r_bullets",
        "r_ellipsis", "r_alpha", "r_stopwords",
    ]
    passed = F.lit(True)
    for r in rules:
        passed = passed & F.col(r)
    return g.withColumn("passed", passed)


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
    badwords: tuple[str, ...] = (),
) -> DataFrame:
    """The published C4 cleaning rules (Raffel et al. 2020 §2.2 —
    public) as one shuffle-free projection. Line level: keep only
    lines that end in a terminal punctuation mark (``. ! ?``,
    optionally followed by a closing quote), contain at least
    ``min_line_words`` words, and do not mention "javascript"
    (case-insensitive). Document level: drop any page containing a
    curly brace, the phrase "lorem ipsum" (case-insensitive), any
    ``badwords`` member as a whole word, or fewer than
    ``min_sentences`` sentences after line cleaning (sentences
    counted as terminal-punctuation marks in the cleaned text).

    Output: ``(id, text_clean, n_lines, n_lines_kept, kept)`` for
    EVERY input document — ``kept=false`` rows carry their cleaned
    text too, so callers can audit why a page fell. Everything is
    array-lambda Column expressions over one line split: per-row JVM
    work, whole-stage codegen, zero shuffles, zero Python.
    """
    keep_line = (
        f"size({tokens_sql('x')}) >= {min_line_words} "
        f"AND x rlike '[.!?][\"\\']?$' "
        f"AND NOT lower(x) rlike 'javascript'"
    )
    kept_lines = F.expr(
        f"filter(split({text_col}, '\\n'), x -> {keep_line})"
    )
    base = df.select(
        F.col(id_col),
        F.col(text_col),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
        kept_lines.alias("__kl"),
    ).select(
        F.col(id_col),
        F.col(text_col),
        "n_lines",
        F.size("__kl").alias("n_lines_kept"),
        F.array_join("__kl", "\n").alias("text_clean"),
    )
    n_sentences = F.size(F.split(F.col("text_clean"), r"[.!?]")) - 1
    bad = F.lit(False)
    lowered = F.lower(F.col(text_col))
    for w in badwords:
        bad = bad | lowered.rlike(rf"\b{w}\b")
    kept = (
        ~F.col(text_col).contains("{")
        & ~F.col(text_col).contains("}")
        & ~lowered.contains("lorem ipsum")
        & ~bad
        & (n_sentences >= min_sentences)
    )
    return base.select(
        id_col, "text_clean", "n_lines", "n_lines_kept", kept.alias("kept")
    )


def search_all_terms(
    df: DataFrame,
    terms: list[str] | None = None,
    top_terms: int | None = None,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conjunctive (AND) full-text search over an inverted index:
    rank the ``k`` documents containing EVERY query term by total
    term frequency — the retrieval primitive under boolean search /
    candidate generation for RAG corpora.

    The index is ``term_frequencies``'s (doc, term, tf) posting
    frame. Pass either ``terms`` (an explicit query) or
    ``top_terms=n`` (query = the corpus' n globally most frequent
    tokens, ties broken by token — the deterministic self-contained
    benchmark form).

    Output: ``(doc_id, score bigint, rank int)`` — score = Σ tf over
    the query terms, rank dense 1..k by (score desc, id asc).

    Scale shape: the postings build is `term_frequencies`' single
    combinable groupBy. The query side is a ≤|query|-row broadcast,
    so matching prunes to the query terms' postings only (a semi-join
    on the broadcast hash — no corpus-wide shuffle), and the HAVING
    count == |query| conjunctive check plus top-k run on the matched
    docs. Final ranking is a global TakeOrderedAndProject over docs
    that matched ALL terms — k-bounded, never a full sort.
    """
    if (terms is None) == (top_terms is None):
        raise ValueError("pass exactly one of terms / top_terms")
    tf = term_frequencies(df, id_col=id_col, text_col=text_col)
    if terms is not None:
        if not terms:
            raise ValueError("terms must be non-empty")
        n_terms = len(set(terms))
        # pandas -> Arrow createDataFrame (the list path would spawn
        # pickled-row Python workers; see pipeline/dedup.py note)
        import pandas as pd

        query = df.sparkSession.createDataFrame(
            pd.DataFrame({"term": sorted(set(terms))}), "term string"
        )
    else:
        if top_terms <= 0:
            raise ValueError("top_terms must be positive")
        query = (
            tf.groupBy("term")
            .agg(F.sum("tf").cast("bigint").alias("__total"))
            .orderBy(F.col("__total").desc(), F.col("term"))
            .limit(top_terms)
            .select("term")
        )
        # The conjunctive check must use the ACTUAL query size: a
        # corpus with fewer than `top_terms` distinct terms would
        # otherwise make `__n_terms == top_terms` unsatisfiable and
        # the search silently empty. The query frame is k-bounded
        # (≤ top_terms rows) and about to be broadcast anyway, so
        # counting it costs one tiny job, not a corpus pass.
        n_terms = query.count()
        if n_terms == 0:
            raise ValueError(
                "corpus has no terms to build a top_terms query from"
            )
    matched = (
        tf.join(F.broadcast(query), "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n_terms"),
            F.sum("tf").cast("bigint").alias("score"),
        )
        .where(F.col("__n_terms") == n_terms)
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (
        matched.orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            "score",
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


def bigram_pmi(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information of adjacent token pairs — the
    collocation detector ("new york" vs chance co-occurrence) used
    for phrase mining and tokenizer-merge candidates over a corpus::

        pmi(x, y) = ln( P(x,y) / (P(x)·P(y)) )
                  = ln( (c_xy · n_uni²) / (c_x · c_y · n_bi) )

    with c_xy counted over adjacent pairs, c_x/c_y over all tokens.
    Only pairs with ``c_xy >= min_count`` are emitted — the row set is
    decided purely by integer counts (never by a float comparison),
    so results are stable across engines; pmi itself is one ln over a
    ratio of exact integer products.

    Output: ``(w1, w2, c_pair bigint, c_w1 bigint, c_w2 bigint,
    pmi double)``.

    Scale shape: one explode of per-document adjacent pairs feeding a
    map-side-combinable (w1, w2) count, a token-count frame joined
    twice on the word key (vocab-sized, not corpus-sized), and the
    two scalar totals riding in via a 1-row broadcast. No window, no
    driver collect.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    tk = F.expr(tokens_sql(text_col, drop_empty=True))
    toks = df.select(tk.alias("__toks"))
    uni = (
        toks.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    )
    # sequence(1, n) with n < 1 DESCENDS in Spark (step defaults to
    # -1), so docs with fewer than 2 tokens are dropped up front —
    # they contribute no pairs anyway.
    pairs = (
        toks.where(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__toks) - 1), i -> "
                    "struct(element_at(__toks, i) AS w1, "
                    "element_at(__toks, i + 1) AS w2))"
                )
            ).alias("__bg")
        )
        .select("__bg.w1", "__bg.w2")
    )
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_pair"))
        .where(F.col("c_pair") >= min_count)
    )
    totals = uni.agg(
        F.sum("c_w").cast("bigint").alias("__n_uni")
    ).crossJoin(
        pairs.agg(F.count(F.lit(1)).cast("bigint").alias("__n_bi"))
    )
    scored = (
        bi.join(
            uni.select(
                F.col("w").alias("w1"), F.col("c_w").alias("c_w1")
            ),
            "w1",
        )
        .join(
            uni.select(
                F.col("w").alias("w2"), F.col("c_w").alias("c_w2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
    )
    n_uni = F.col("__n_uni").cast("double")
    pmi = F.log(
        (F.col("c_pair").cast("double") * n_uni * n_uni)
        / (
            F.col("c_w1").cast("double")
            * F.col("c_w2").cast("double")
            * F.col("__n_bi").cast("double")
        )
    )
    return scored.select(
        "w1", "w2", "c_pair", "c_w1", "c_w2", pmi.alias("pmi")
    )


def corpus_ngram_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """CROSS-document n-gram diversity per corpus slice: for each
    ``group_col`` value and each n-gram order, the number of n-gram
    occurrences, the number of DISTINCT n-grams, and their ratio —
    the distinct-n diversity metric used to catch mode collapse in
    synthetic corpora and over-crawled boilerplate in web slices (a
    generator that loops emits few distinct 2/3-grams per million
    tokens; ``repetition_signals`` is the within-document twin, this
    is the corpus-level one).

    Output: ``(group_col, n int, total_ngrams bigint, distinct_ngrams
    bigint, distinct_ratio double)``, one row per (group, n).

    Scale shape: per order n, one explode of the JVM-side shingle
    array and one combinable aggregate; the distinct count shuffles
    (group, gram) once — exact, the oracle-able form. At corpus
    scales where a distinct shuffle per slice hurts, swap the
    distinct for ``sketch.hll_build(..., [group_col])`` and take the
    estimate — the metric is a monitoring ratio, not a key.
    """
    if not ns:
        raise ValueError("ns must name at least one n-gram order")
    parts = []
    for n in ns:
        if n < 1:
            raise ValueError("n-gram orders must be >= 1")
        grams = df.select(
            F.col(group_col),
            F.expr(f"explode({ngrams_sql(text_col, n, drop_empty=True)}) AS __g"),
        )
        parts.append(
            grams.groupBy(group_col).agg(
                F.lit(n).cast("int").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("total_ngrams"),
                F.countDistinct("__g").cast("bigint").alias(
                    "distinct_ngrams"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        group_col,
        "n",
        "total_ngrams",
        "distinct_ngrams",
        (
            F.col("distinct_ngrams") / F.col("total_ngrams").cast("double")
        ).alias("distinct_ratio"),
    )


#: dictionary size at which ``keyword_spans(engine="auto")`` routes
#: to the Aho-Corasick mapInPandas path. Measured on the sf0.1
#: documents table (50k docs × ~300 chars): the automaton wins
#: already at |dict|=4 (2.8 s vs 15.1 s) and the gap is x56 at 64
#: terms, x440 at 256 — the JVM higher-order scan materializes a
#: substring per (position × term) while the automaton is
#: O(len + matches) with one shared trie walk. codegen is kept as
#: the default only for near-trivial dictionaries, where zero
#: Python-worker involvement and a pure whole-stage-codegen plan
#: matter more than the constant factor; above a few hundred terms
#: the literal-array plan additionally blows up (every term embedded
#: in the SQL tree, 64KB JVM method limit).
KEYWORD_AUTOMATON_MIN_TERMS = 16


def _aho_build(
    terms: list[str],
) -> tuple[list[dict[str, int]], list[int], list[list[str]]]:
    """Aho-Corasick automaton over the dictionary: trie goto table,
    BFS failure links, and per-node output lists (failure-closure
    merged, so a scan emits every suffix match without walking links
    at match time). Build is O(total dictionary chars); it runs once
    per TASK inside the mapInPandas closure — milliseconds even at
    10k phrases, amortized over the task's whole Arrow stream."""
    goto: list[dict[str, int]] = [{}]
    out: list[list[str]] = [[]]
    fail: list[int] = [0]
    for t in terms:
        node = 0
        for ch in t:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                fail.append(0)
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(t)
    from collections import deque

    q = deque(goto[0].values())
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[s] = cand if cand != s else 0
            out[s].extend(out[fail[s]])
    return goto, fail, out


def keyword_spans(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    case_insensitive: bool = True,
    engine: str = "auto",
) -> DataFrame:
    """Dictionary span annotation — every occurrence of every
    dictionary phrase with its 1-based character position: the weak-
    supervision / policy-term / PII-dictionary tagging primitive
    (Snorkel-style labeling functions, deny-list auditing) whose
    output feeds span excision or labeling downstream.

    Two engines, identical output contract, selected by ``engine``:

    - ``"codegen"`` — the dictionary is a broadcast array LITERAL (no
      join, no shuffle — map-only) and matching is a JVM higher-order
      scan: per row, per term, candidate start positions filtered by
      one ``substring`` equality each, O(len(text) × |dict|) inside
      whole-stage codegen. The right trade for small dictionaries
      (zero Python, zero Arrow transfer).
    - ``"automaton"`` — Arrow-batched ``mapInPandas`` Aho-Corasick:
      O(len(text) + matches) per document regardless of dictionary
      size, nothing dictionary-sized in the query plan (the terms
      ride the serialized task closure, not the SQL tree). The right
      trade for PII deny-lists / policy dictionaries at 10k+ phrases,
      where the literal-array plan would blow past codegen limits.
    - ``"auto"`` (default) — codegen below
      ``KEYWORD_AUTOMATON_MIN_TERMS`` terms, automaton at or above.

    Overlapping and repeated matches are all emitted (downstream
    dedup/excision owns overlap policy). ``case_insensitive`` lowers
    both sides; positions refer to the ORIGINAL string (lowering is
    length-preserving for ASCII dictionaries — non-ASCII case pairs
    with different lengths would shift positions, so pass
    ``case_insensitive=False`` for those).

    Output: ``(id_col, term string, pos int)``; documents without
    matches emit nothing.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if any(t is None or t == "" for t in terms):
        raise ValueError("terms must be non-empty strings")
    if engine not in ("auto", "codegen", "automaton"):
        raise ValueError(f"unknown engine {engine!r}")
    if engine == "auto":
        engine = (
            "automaton"
            if len(terms) >= KEYWORD_AUTOMATON_MIN_TERMS
            else "codegen"
        )
        note(keyword_engine=engine, terms=len(terms))
    if engine == "automaton":
        return _keyword_spans_automaton(
            df, terms, id_col, text_col, case_insensitive
        )
    arr = F.array(*[F.lit(t.lower() if case_insensitive else t) for t in terms])
    txt = F.col(text_col)
    if case_insensitive:
        txt = F.lower(txt)
    hits = F.explode(
        F.expr(
            "flatten(transform(__kw_terms, t ->"
            " if(length(__kw_txt) >= length(t),"
            "    transform(filter(sequence(1, length(__kw_txt) - length(t) + 1),"
            "                     i -> substring(__kw_txt, i, length(t)) = t),"
            "              i -> struct(t AS term, CAST(i AS INT) AS pos)),"
            "    CAST(array() AS array<struct<term: string, pos: int>>))))"
        )
    )
    # spread(): the O(len(text) × |dict|) substring scan is the cost
    # center; a single-file input would serialize it onto one task
    # (measured: q152's heavy stage ran as ONE task at sf0.1). No-op
    # when the input already has >= default-parallelism partitions
    # (the cluster-scale case), so the map-only claim above holds at
    # scale.
    return (
        spread(df.where(F.col(text_col).isNotNull()))
        .select(
            F.col(id_col),
            arr.alias("__kw_terms"),
            txt.alias("__kw_txt"),
        )
        .select(id_col, hits.alias("__h"))
        .select(id_col, F.col("__h.term").alias("term"), F.col("__h.pos").alias("pos"))
    )


def _keyword_spans_automaton(
    df: DataFrame,
    terms: list[str],
    id_col: str,
    text_col: str,
    case_insensitive: bool,
) -> DataFrame:
    """Aho-Corasick engine behind :func:`keyword_spans` — see its
    docstring for the contract. Map-only: each task streams its Arrow
    batches through one automaton instance; no shuffle, no join, and
    the plan carries only a two-column projection (the dictionary
    never enters the SQL tree, so a 50k-term deny-list costs the plan
    nothing). Matched terms are reported in their LOWERED form under
    ``case_insensitive`` — identical to the codegen engine."""
    import pandas as pd
    from pyspark.sql import types as T

    lowered = [t.lower() if case_insensitive else t for t in terms]
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType, True),
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )

    def scan(batches):
        goto, fail, out = _aho_build(lowered)
        root_goto = goto[0]
        for pdf in batches:
            ids: list = []
            hit_terms: list[str] = []
            positions: list[int] = []
            for rid, raw in zip(pdf[id_col], pdf[text_col]):
                if raw is None:
                    continue
                text = raw.lower() if case_insensitive else raw
                node = 0
                for i, ch in enumerate(text):
                    while node and ch not in goto[node]:
                        node = fail[node]
                    node = (goto[node] if node else root_goto).get(ch, 0)
                    if out[node]:
                        for t in out[node]:
                            ids.append(rid)
                            hit_terms.append(t)
                            positions.append(i - len(t) + 2)  # 1-based
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "term": pd.Series(hit_terms, dtype="object"),
                    "pos": pd.Series(positions, dtype="int32"),
                }
            )

    return (
        df.where(F.col(text_col).isNotNull())
        .select(id_col, text_col)
        .mapInPandas(scan, schema)
    )


def zipf_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum: OLS of
    ``ln(count)`` against ``ln(rank)`` over the ranked vocabulary —
    the corpus-naturalness monitor (natural language sits near slope
    −1; templated/synthetic/mode-collapsed corpora bend the line,
    and drift in the slope across snapshots is a cheap red flag).

    Determinism-first: the vocabulary aggregate is exact; ranks are
    assigned in (count desc, term asc) order — total and
    reproducible; both logs are scaled to micro-units
    (``floor(ln(·)·1e6)`` bigint) so the five OLS sufficient
    statistics accumulate as decimal(38,0) integers (a float Σxy
    would be order-dependent) and slope/intercept are two final
    double expressions.

    Scale shape: token explode → one map-side-combined (id, term)
    shuffle → vocabulary-sized aggregate; the rank window runs over
    the VOCABULARY frame (the q65 allowance — vocabulary-bounded,
    never the token stream); one combinable final aggregate. Output:
    ONE row — ``(n_terms bigint, n_tokens bigint, slope double,
    intercept double)`` (intercept in ln-count space).
    """
    vocab = build_vocab(df, id_col, text_col, min_count=min_count)
    w = Window.orderBy(F.col("ct").desc(), F.col("term").asc())
    scaled = vocab.select(
        "ct",
        F.floor(F.log(F.row_number().over(w).cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("__x"),
        F.floor(F.log(F.col("ct").cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("__y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = scaled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("ct").cast("bigint").alias("n_tokens"),
        F.sum(d("__x")).cast("decimal(38,0)").alias("__sx"),
        F.sum(d("__y")).cast("decimal(38,0)").alias("__sy"),
        F.sum(d("__x") * d("__y")).cast("decimal(38,0)").alias("__sxy"),
        F.sum(d("__x") * d("__x")).cast("decimal(38,0)").alias("__sxx"),
    )
    n = F.col("n_terms").cast("decimal(38,0)")
    denom = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    slope = F.when(
        denom != 0,
        (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
        / denom,
    )
    return sums.select(
        "n_terms",
        "n_tokens",
        slope.alias("slope"),
        F.when(
            denom != 0,
            (
                F.col("__sy").cast("double")
                - slope * F.col("__sx").cast("double")
            )
            / n.cast("double")
            / F.lit(1_000_000.0),
        ).alias("intercept"),
    )


def bigram_lm_scores(
    df: DataFrame,
    train_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram language-model score per document — the
    CCNet/GPT-style perplexity filter, self-contained: the LM is the
    bigram/unigram count tables of ``train_df`` (a reference slice;
    defaults to ``df`` itself) and each document is scored by its
    average token log-probability

        p(w2 | w1) = λ·(B(w1,w2)/U(w1)) + (1−λ)·(U(w2)+1)/(T+V+1)

    (MLE bigram interpolated with an add-one unigram — the unigram
    floor keeps OOV transitions finite; λ defaults to 0.7). Low
    scores flag unnatural/garbled/templated text against the
    reference distribution.

    Determinism: every probability derives from exact integer counts
    through a fixed double expression; each transition contributes
    ``floor(ln(p)·1e6)`` and documents sum those INTEGERS — so the
    per-document totals are order-independent and engine-exact, and
    only the final average is a double division.

    Scale shape: one per-doc lag window (partitioned by document) for
    the transition stream; the count tables are combinable groupBys
    (vocabulary/bigram-table-sized); scoring is two keyed equi-joins
    of the transition stream against those tables (broadcastable for
    real vocabularies) and one combinable per-doc sum. Documents with
    fewer than two tokens emit nothing (no transitions).

    Output: ``(id_col, n_bigrams bigint, logp_micro bigint,
    avg_logp double)``.
    """
    if not 0.0 < lam < 1.0:
        raise ValueError("lam must be in (0, 1)")
    train = train_df if train_df is not None else df

    def transitions(frame: DataFrame) -> DataFrame:
        toks = F.expr(tokens_sql(text_col, drop_empty=True))
        base = frame.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), F.posexplode(toks).alias("__i", "__w")
        )
        w = Window.partitionBy(id_col).orderBy("__i")
        return base.select(
            F.col(id_col),
            F.lag("__w").over(w).alias("__w1"),
            F.col("__w").alias("__w2"),
        ).where(F.col("__w1").isNotNull())

    uni = (
        train.where(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.expr(tokens_sql(text_col, drop_empty=True))
            ).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__u"))
    )
    totals = uni.agg(
        F.sum("__u").cast("bigint").alias("__t"),
        F.count(F.lit(1)).cast("bigint").alias("__v"),
    )
    bi = transitions(train).groupBy(
        F.col("__w1").alias("__b1"), F.col("__w2").alias("__b2")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__b"))

    tr = (
        transitions(df)
        .join(
            F.broadcast(uni.withColumnRenamed("__w", "__w1").withColumnRenamed("__u", "__u1")),
            "__w1",
            "left",
        )
        .join(
            F.broadcast(uni.withColumnRenamed("__w", "__w2").withColumnRenamed("__u", "__u2")),
            "__w2",
            "left",
        )
        .join(
            F.broadcast(bi),
            (F.col("__w1") == F.col("__b1"))
            & (F.col("__w2") == F.col("__b2")),
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    p_bi = F.when(
        F.col("__u1").isNotNull() & F.col("__b").isNotNull(),
        F.col("__b").cast("double") / F.col("__u1").cast("double"),
    ).otherwise(F.lit(0.0))
    p_uni = (
        F.coalesce(F.col("__u2"), F.lit(0)).cast("double") + F.lit(1.0)
    ) / (F.col("__t") + F.col("__v") + F.lit(1)).cast("double")
    term = F.floor(
        F.log(F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni)
        * 1_000_000
    ).cast("bigint")
    return (
        tr.select(F.col(id_col), term.alias("__lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("__lp").cast("bigint").alias("logp_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            "logp_micro",
            (
                F.col("logp_micro").cast("double")
                / (F.col("n_bigrams") * 1_000_000).cast("double")
            ).alias("avg_logp"),
        )
    )


def reading_ease_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Flesch reading-ease per document, in exact micro-units.

    The classic readability filter (quality-pipeline sibling of the
    Gopher/C4 gates): natural prose scores ~60-80, keyword-stuffed or
    boilerplate text collapses toward 0 or explodes past 100, so the
    score is a cheap slicer for "reads like sentences" vs "reads like
    a parts list".

    Heuristics (deterministic, regex-only, engine-portable):

    - words = whitespace-delimited tokens, with whitespace spelled as
      the EXPLICIT class ``[ \\t\\n\\r\\f]`` — ``\\S`` is NOT portable
      (Java's ``\\s`` includes ``\\x0B``, RE2's does not, so one VT
      character in the corpus would silently diverge the engines);
    - sentences = runs of terminal punctuation (``[.!?]+``), floored
      at 1 so fragments still score;
    - syllables = vowel-group count (``[aeiouy]+`` on the lowercased
      text) plus one for every word with no vowel at all (every word
      carries >= 1 syllable — the standard correction, expressed as
      ``words - words_with_vowel``).

    Score: ``FRE = 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/words)``, computed in micro-units as
    ``206_835_000 - (1_015_000*words div sentences)
    - (84_600_000*syllables div words)`` — integer floor divisions on
    positive operands, so any engine replays the micro-unit score
    bit-for-bit. Empty/whitespace-only texts emit NULL score; a NULL
    text emits NULL for ALL four outputs (without the explicit guard
    the sentence floor would manufacture a phantom ``n_sentences=1``
    for unscoreable rows — and ``greatest(NULL, 1)`` is exactly where
    engines disagree, so the guard is also the portability fix).

    ``extra_cols`` ride through the projection (group keys for a
    downstream rollup) so callers never need to join the scores back
    onto the corpus — the whole scoring stays map-only (one
    projection, no shuffle, no Python): at 100 TB this is a
    full-scan-speed filter.
    """
    # Output-name collision guard (same pattern as locf_fill /
    # mad_outliers / group_quantile_normalize): an input or extra
    # column named like one of the four outputs would make the second
    # select's unqualified references ambiguous or silently shadow
    # caller data — fail loud instead.
    outputs = ("n_words", "n_sentences", "n_syllables", "fre_micro")
    for name in outputs:
        if name in df.columns or name in (extra_cols or []):
            raise ValueError(f"column {name!r} already exists")

    nonspace = r"[^ \t\n\r\f]"
    lower = F.lower(F.col(text_col))
    # Every count is guarded on text IS NOT NULL: with ANSI off,
    # size(regexp_extract_all(NULL)) is -1 (legacy sizeOfNull), not
    # NULL — the guard makes the NULL-text contract hold under either
    # conf, matching the oracle's len(NULL) = NULL.
    notnull = F.col(text_col).isNotNull()
    words = F.when(
        notnull,
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(nonspace + "+"), 0)
        ),
    )
    sents = F.when(
        notnull,
        F.greatest(
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), 0)
            ),
            F.lit(1),
        ),
    )
    groups = F.when(
        notnull,
        F.size(F.regexp_extract_all(lower, F.lit(r"[aeiouy]+"), 0)),
    )
    with_vowel = F.when(
        notnull,
        F.size(
            F.regexp_extract_all(
                lower, F.lit(f"{nonspace}*[aeiouy]{nonspace}*"), 0
            )
        ),
    )
    syl = groups + (words - with_vowel)
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        words.cast("bigint").alias("n_words"),
        sents.cast("bigint").alias("n_sentences"),
        syl.cast("bigint").alias("n_syllables"),
    )
    return out.select(
        id_col,
        *(extra_cols or []),
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.lit(206_835_000).cast("bigint")
            - F.expr("(1015000 * n_words) div n_sentences")
            - F.expr("(84600000 * n_syllables) div n_words"),
        )
        .cast("bigint")
        .alias("fre_micro"),
    )


def gopher_repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_pct: int = 30,
    max_dup_para_pct: int = 30,
    max_dup_line_char_pct: int = 20,
    max_dup_para_char_pct: int = 20,
    top_ngram_char_pcts: tuple[int, int, int] = (20, 18, 16),
    dup_ngram_char_pcts: tuple[int, ...] = (15, 14, 13, 12, 11, 10),
) -> DataFrame:
    """The published Gopher REPETITION rules (Rae et al. 2021,
    appendix A1.1 — public), the other half of
    :func:`gopher_quality_filter`'s table: per document, measure
    line/paragraph duplication and n-gram repetition, evaluate every
    threshold, and return the verdict plus each rule's boolean and
    its exact micro-unit fraction (full diagnosability).

    Conventions (every one mirrored in the q193 oracle; all counters
    are integers and all threshold comparisons integer
    cross-multiplications — no float division anywhere):

    - lines = non-empty elements of ``split(text, '\\n')``;
      paragraphs = non-empty elements of ``split(text, '\\n\\n')``.
    - duplication counts EXCESS occurrences: a segment appearing
      ``c`` times contributes ``c - 1`` duplicates and
      ``(c - 1) * length(segment)`` duplicate characters.
    - word n-grams use the module-wide tokenization (``\\s+`` split
      of the trimmed text) joined by single spaces; the joined
      gram's ``length`` (spaces included) is its character weight.
    - ``top n-gram char fraction`` (n = 2, 3, 4) is the maximum of
      ``c * length(gram)`` over the document's n-grams — the most
      char-covering n-gram, a deterministic variant of "most
      frequent" that needs no tie-break.
    - ``dup n-gram char fraction`` (n = 5..10) sums
      ``(c - 1) * length(gram)`` over grams with ``c >= 2``
      (overlapping occurrences are NOT de-overlapped — documented,
      cheap, and monotone in repetition; because overlapping
      occurrences each count and grams include joining spaces, char
      fractions CAN exceed 1.0 on degenerate repetition — the rule
      comparisons are unaffected).
    - every char fraction's denominator is ``length(text)``; count
      fractions divide by the segment count. Fractions are floored
      micro-units (``(1e6 * num) DIV den``), NULL when the
      denominator is zero; rule booleans treat 0/0 as passing
      (an empty doc repeats nothing).

    Scale shape: ONE map-only projection, zero shuffles and zero
    joins (the same device as the quality filter): every counter is
    a row-local fold. Duplication counting never builds a (doc,
    gram) frame — each segment/gram array is ``array_sort``-ed once
    (bound via the single-element ``transform`` trick so it
    materializes exactly once) and equal values become ADJACENT, so
    excess occurrences are one linear ``aggregate`` over index pairs
    and the top run's ``count * length`` one linear run-length fold.
    The first implementation exploded all nine gram sizes into a
    (doc, n, gram) count (~135 M shuffled rows at sf0.1, 9.1 s);
    this form measures 4.0 s warm at sf0.1 / 29 s at sf1 (5.4× for
    10× data) with a bit-identical result — and, more importantly at
    scale, carries NO shuffle at all: the exploded form's (doc, n,
    gram) exchange grows with corpus × document length, this one
    only scans.

    Output: ``(id, n_lines, n_paras, <13 *_micro fractions>,
    <13 r_* booleans>, passed)``.
    """
    if len(top_ngram_char_pcts) != 3 or len(dup_ngram_char_pcts) != 6:
        raise ValueError(
            "top_ngram_char_pcts must have 3 entries (n=2,3,4) and "
            "dup_ngram_char_pcts 6 (n=5..10)"
        )
    # spread(): nine array_sort + fold passes per row make this the
    # most CPU-dense map-only projection in the module; a single-file
    # input serializes all of it onto one task (measured at sf0.1:
    # the whole query ran as ONE task, 4.2 s; spread across 32 cores
    # it is sub-second). No-op at cluster scale where the scan
    # already has >= default-parallelism splits — the zero-shuffle
    # scale shape described above is unchanged there.
    base = spread(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__t"),
        ).where(F.col("__t").isNotNull())
    )

    def grams_sorted(n: int) -> str:
        return f"array_sort({ngram_window_sql('w', n)})"

    def excess_fold(arr: str) -> str:
        # arr is SORTED: excess occurrences are adjacent-equal pairs.
        # One linear fold over index pairs -> struct(excess count,
        # excess chars).
        return (
            f"element_at(transform(array({arr}), s -> "
            "IF(size(s) >= 2, "
            "aggregate(sequence(2, size(s)), "
            "struct(CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS ch), "
            "(a, i) -> IF(element_at(s, i) = element_at(s, i - 1), "
            "struct(a.c + CAST(1 AS BIGINT) AS c, "
            "a.ch + CAST(length(element_at(s, i)) AS BIGINT) AS ch), "
            "a)), "
            "struct(CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS ch))"
            "), 1)"
        )

    def top_run_fold(arr: str) -> str:
        # arr is SORTED: the top c*length(gram) is a run-length fold
        # (null-safe <=> against the NULL initial prev).
        return (
            f"element_at(transform(array({arr}), s -> "
            "aggregate(s, "
            "struct(CAST(NULL AS STRING) AS p, 0 AS r, "
            "CAST(0 AS BIGINT) AS b), "
            "(acc, x) -> struct(x AS p, "
            "IF(x <=> acc.p, acc.r + 1, 1) AS r, "
            "greatest(acc.b, CAST(IF(x <=> acc.p, acc.r + 1, 1) "
            "AS BIGINT) * length(x)) AS b), "
            "acc -> acc.b)), 1)"
        )

    lines_arr = "array_sort(filter(split(t, '\\n'), x -> x <> ''))"
    paras_arr = "array_sort(filter(split(t, '\\n\\n'), x -> x <> ''))"
    counters = (
        "struct("
        f"size({lines_arr}) AS n_line, "
        f"size({paras_arr}) AS n_para, "
        f"{excess_fold(lines_arr)} AS exl, "
        f"{excess_fold(paras_arr)} AS exp, "
        + ", ".join(
            f"{top_run_fold(grams_sorted(n))} AS top{n}" for n in (2, 3, 4)
        )
        + ", "
        + ", ".join(
            f"{excess_fold(grams_sorted(n))}.ch AS dupg{n}"
            for n in range(5, 11)
        )
        + ")"
    )
    # bind the token array w and the raw text t exactly once each
    stats = F.expr(
        f"element_at(transform(array({tokens_sql('__t')}), w -> "
        f"element_at(transform(array(__t), t -> {counters}), 1)), 1)"
    )
    g = base.select(
        "__id",
        F.length("__t").cast("bigint").alias("__chars"),
        stats.alias("__g"),
    )

    sel = [
        F.col("__id").alias(id_col),
        F.col("__g.n_line").cast("bigint").alias("n_lines"),
        F.col("__g.n_para").cast("bigint").alias("n_paras"),
    ]
    rules: list[tuple[str, Column]] = []

    def add(name: str, num: str, den: str, pct: int) -> None:
        sel.append(
            F.expr(f"(1000000 * {num}) DIV nullif({den}, 0)")
            .cast("bigint")
            .alias(f"{name}_micro")
        )
        # 0/0 passes: an empty doc repeats nothing
        rules.append(
            (f"r_{name}", F.expr(f"100 * {num} <= {pct} * {den}"))
        )

    add("dup_line_frac", "__g.exl.c", "__g.n_line", max_dup_line_pct)
    add("dup_para_frac", "__g.exp.c", "__g.n_para", max_dup_para_pct)
    add(
        "dup_line_char_frac", "__g.exl.ch", "__chars",
        max_dup_line_char_pct,
    )
    add(
        "dup_para_char_frac", "__g.exp.ch", "__chars",
        max_dup_para_char_pct,
    )
    for n, pct in zip((2, 3, 4), top_ngram_char_pcts):
        add(f"top_{n}gram_char_frac", f"__g.top{n}", "__chars", pct)
    for n, pct in zip(range(5, 11), dup_ngram_char_pcts):
        add(f"dup_{n}gram_char_frac", f"__g.dupg{n}", "__chars", pct)

    passed = rules[0][1]
    for _, expr in rules[1:]:
        passed = passed & expr
    return g.select(
        *sel,
        *[expr.alias(name) for name, expr in rules],
        passed.alias("passed"),
    )
