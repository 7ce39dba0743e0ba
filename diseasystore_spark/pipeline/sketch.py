"""Mergeable distinct-count sketches (Apache DataSketches HLL via
Spark's built-in ``hll_sketch_agg``/``hll_union_agg``, public API).

The 100 TB pattern for distinct counting: exact ``count_distinct``
must shuffle every distinct value; an HLL sketch is a small fixed-size
binary that (a) aggregates map-side, (b) MERGES across shards, days,
or incremental loads without revisiting raw data, and (c) answers
within ~1.6% at lgK=12. Build per-partition/per-day sketch rows once,
persist them next to the data, and roll ANY grouping up from sketches
alone — the pre-aggregation that turns "distinct users per month"
from a corpus scan into a few-row merge.

No SQL oracle (the estimate is approximate by design); tests pin the
relative-error envelope against exact counts AND the merge identity
(union of shard sketches == whole-corpus sketch, exactly — the union
is deterministic on the same binaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["distinct_sketches", "merge_sketch_rollup"]


def distinct_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Per-group HLL sketch of ``value_col``: (group_cols...,
    sketch binary, estimate bigint). Map-side combinable; the shuffle
    carries lgK-sized binaries, never the distinct values."""
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    sk = F.hll_sketch_agg(F.col(value_col), F.lit(lg_k))
    return (
        df.groupBy(*group_cols)
        .agg(sk.alias(sketch_col))
        .withColumn(
            "estimate", F.hll_sketch_estimate(F.col(sketch_col))
        )
    )


def merge_sketch_rollup(
    sketches: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Roll precomputed sketch rows up to a coarser grouping (possibly
    ``[]``-adjacent: pass the subset of the original group columns).
    Touches only sketch rows — the raw data is never re-read."""
    agg = F.hll_union_agg(F.col(sketch_col)).alias(sketch_col)
    if group_cols:
        out = sketches.groupBy(*group_cols).agg(agg)
    else:
        out = sketches.agg(agg)
    return out.withColumn(
        "estimate", F.hll_sketch_estimate(F.col(sketch_col))
    )


# --------------------------------------------------------------- Bloom
#
# Fixed-size membership sketch for decontamination at 100 TB: the
# exact path (``ngram_decontaminate``) broadcasts the benchmark's
# DISTINCT n-gram key set, which grows with the benchmark; a Bloom
# filter is a constant-size bit array (m bits ~ 128 KiB at m=2^20)
# regardless of benchmark size, at the price of a tunable
# false-positive rate — the right trade for a conservative drop-list
# when the "benchmark" is itself huge (e.g. an entire held-out
# corpus). Public technique (Bloom 1970; k-probe variant with
# Kirsch-Mitzenmacher double hashing, same family as the portable
# MinHash path, so one md5 per n-gram feeds all k probes and ANY SQL
# engine reproduces the sketch bit-for-bit — the q89 oracle builds
# the identical filter in DuckDB, false positives included).

_BLOOM_P = 2147483647  # 2^31 - 1, the double-hash modulus


def _ab_struct_sql(g: str) -> str:
    """(a, b) 31-bit Kirsch-Mitzenmacher pair from one md5 of ``g``."""
    return (
        f"named_struct("
        f"'a', cast(conv(substr(md5({g}), 1, 8), 16, 10) as bigint)"
        f" % {_BLOOM_P}, "
        f"'b', cast(conv(substr(md5({g}), 9, 8), 16, 10) as bigint)"
        f" % {_BLOOM_P})"
    )


def bloom_build_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    m: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Build a Bloom filter over the distinct word-``n``-grams of a
    corpus: ONE row ``(bloom map<bigint,bigint>, m int, k int)`` —
    the map holds only NON-ZERO 64-bit words of the bit array, so an
    underfull filter costs less than m/64 entries and a missing key
    reads as an all-zero word.

    Probe ``i`` of gram ``g`` sets bit ``(a + i*b) mod m`` where
    ``(a, b)`` are the two 31-bit halves of ``md5(g)`` — deterministic
    across engines. Build cost: one corpus scan + one distinct over
    hashed grams + a ``bit_or`` groupBy whose key space is at most
    m/64 — all map-side combinable, nothing driver-side.
    """
    if m <= 0 or k <= 0:
        raise ValueError("m and k must be positive")
    from diseasystore_spark.pipeline._util import ngrams_sql, spread

    grams = ngrams_sql(text_col, n, distinct=True, drop_empty=True)
    ab = (
        spread(df)
        .select(
            F.explode(
                F.expr(f"transform({grams}, g -> {_ab_struct_sql('g')})")
            ).alias("__ab")
        )
        .distinct()
    )
    pos = ab.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {k - 1}), "
                f"i -> (__ab.a + i * __ab.b) % {m})"
            )
        ).alias("__p")
    ).distinct()
    masks = pos.select(
        F.expr("__p DIV 64").alias("__w"),
        F.expr("cast(__p % 64 as int)").alias("__bit"),
    ).groupBy("__w").agg(
        F.expr(
            "bit_or(shiftleft(cast(1 as bigint), __bit))"
        ).alias("__mask")
    )
    return masks.agg(
        F.map_from_arrays(
            F.collect_list("__w"), F.collect_list("__mask")
        ).alias("bloom"),
        F.lit(m).alias("m"),
        F.lit(k).alias("k"),
    )


def bloom_decontaminate(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m: int = 1 << 20,
    k: int = 4,
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter: flag every
    document with >= 1 word-``n``-gram that the filter reports as a
    benchmark member.

    Output: ``(id, n_flagged_ngrams, flagged)`` for EVERY document —
    the FP-inclusive analog of ``ngram_decontaminate`` (a superset of
    its flags: no false negatives by construction, false positives at
    the standard ``(1 - e^{-kn/m})^k`` rate). Deterministic: the same
    ``(m, k)`` filter yields the same flags on any engine, so the
    q89 oracle is hash-exact INCLUDING the false positives.

    Scale shape: the filter is built once (or passed prebuilt via
    ``bloom`` for the many-batches / streaming reuse path, same
    pattern as ``benchmark_keys``) and enters the doc scan as a
    one-row broadcast nested-loop join — constant-size state per
    executor, independent of benchmark cardinality. Flagging is a
    single narrow map over each document's distinct gram array: one
    md5 per gram, ``k`` map probes, zero shuffles, zero Python.
    """
    if (benchmark is None) == (bloom is None):
        raise ValueError("pass exactly one of benchmark or bloom")
    from diseasystore_spark.pipeline._util import ngrams_sql, spread

    filt = (
        bloom
        if bloom is not None
        else bloom_build_ngrams(benchmark, text_col, n, m, k)
    )
    grams = ngrams_sql(text_col, n, distinct=True, drop_empty=True)
    probe = (
        f"forall(sequence(0, k - 1), i -> "
        f"(shiftright(coalesce(element_at(bloom, (s.a + i * s.b) % m DIV 64),"
        f" cast(0 as bigint)), cast((s.a + i * s.b) % m % 64 as int))"
        f" & 1) = 1)"
    )
    return (
        spread(df)
        .select(
            F.col(id_col),
            F.expr(
                f"transform({grams}, g -> {_ab_struct_sql('g')})"
            ).alias("__abs"),
        )
        .join(F.broadcast(filt))
        .select(
            F.col(id_col),
            F.expr(f"size(filter(__abs, s -> {probe}))")
            .cast("bigint")
            .alias("n_flagged_ngrams"),
        )
        .withColumn("flagged", F.col("n_flagged_ngrams") > 0)
    )


# ----------------------------------------------------------- Count-Min
#
# Fixed-size frequency sketch (Cormode & Muthukrishnan 2005, public):
# depth x width counters; every token increments one counter per row
# via the same md5 double-hash family as the Bloom filter, and a
# term's estimate is the MIN over rows — an overcount-only bound.
# The 100 TB story: counters key space is depth*width (a few thousand
# rows) regardless of vocabulary size, so the count shuffle map-side
# combines to a bounded frame where exact per-term counting shuffles
# the full distinct vocabulary. Deterministic hashing => the q90
# oracle rebuilds identical counters (and identical overcounts).


def cms_build_tokens(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min counters over whitespace tokens: ``(d int, bucket
    bigint, cnt bigint, depth int, width int)`` — at most depth*width
    rows, self-describing (the geometry rides in the frame so a
    persisted sketch can be re-loaded and queried without out-of-band
    parameters, and ``cms_estimate`` validates any caller-supplied
    geometry against it). Token occurrences COUNT (no per-doc dedup;
    this sketches the corpus term-frequency vector). One scan; the
    only shuffle is the (d, bucket)-keyed count, combinable to
    depth*width partials."""
    if depth <= 0 or width <= 0:
        raise ValueError("depth and width must be positive")
    from diseasystore_spark.pipeline._util import spread, tokens_sql

    toks = (
        spread(df)
        .select(F.expr(f"explode({tokens_sql(text_col, drop_empty=True)}) AS __t"))
        .select(F.expr(_ab_struct_sql("__t")).alias("__ab"))
    )
    return (
        toks.select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {depth - 1}), d -> "
                    f"named_struct('d', d, "
                    f"'bucket', (__ab.a + d * __ab.b) % {width}))"
                )
            ).alias("__db")
        )
        .groupBy(
            F.col("__db.d").alias("d"),
            F.col("__db.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("depth", F.lit(depth))
        .withColumn("width", F.lit(width))
    )


def cms_estimate(
    counters: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Point-query the sketch: ``(term, est_count)`` = min over the
    depth rows of the counter each probe lands in (missing counter =
    0). The sketch geometry is read from the counter frame's
    ``depth``/``width`` columns (one bounded action over the at most
    depth*width-row frame); passing ``depth``/``width`` explicitly is
    a cross-check — a mismatch with the frame raises instead of
    silently probing wrong buckets. Pre-metadata counter frames
    (no geometry columns) require explicit values. The counter frame
    is broadcast; the probe join is equi-keyed on (d, bucket)."""
    has_meta = {"depth", "width"} <= set(counters.columns)
    if has_meta:
        meta = counters.select("depth", "width").first()
        if meta is not None:
            if depth is not None and depth != meta["depth"]:
                raise ValueError(
                    f"depth mismatch: sketch was built with "
                    f"depth={meta['depth']}, got depth={depth}"
                )
            if width is not None and width != meta["width"]:
                raise ValueError(
                    f"width mismatch: sketch was built with "
                    f"width={meta['width']}, got width={width}"
                )
            depth, width = meta["depth"], meta["width"]
    if depth is None or width is None:
        raise ValueError(
            "counter frame carries no depth/width metadata; pass both "
            "explicitly"
        )
    probes = terms.select(
        F.col(term_col).alias("term"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {depth - 1}), d -> "
                f"named_struct('d', d, 'bucket', "
                f"(({_ab_struct_sql(term_col)}).a "
                f"+ d * ({_ab_struct_sql(term_col)}).b) % {width}))"
            )
        ).alias("__db"),
    ).select(
        "term",
        F.col("__db.d").alias("d"),
        F.col("__db.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["d", "bucket"], "left")
        .groupBy("term")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("est_count")
        )
    )


# ----------------------------------------------------- KLL quantiles
#
# Mergeable rank/quantile sketch (Karnin, Lang & Liberty 2016 — the
# KLL family; this implementation is the uniform-capacity multi-level
# compactor variant with KLL-style lazy compaction and DETERMINISTIC
# offsets, so the same data yields the same sketch on every run and
# engine). The missing member of the artifact trio next to the Bloom
# filter and Count-Min rows above: Bloom answers membership, CMS
# answers frequency, this answers rank/quantile — all three persist as
# small frames and MERGE across shards/epochs without revisiting raw
# data.
#
# Representation: (level int, value double, k int) rows. A row at
# level L stands for 2^L original values, so total weight
# sum(2^level) == n exactly (compaction promotes an even count and
# leaves any odd remainder at its level — weight is never lost).
# With k >= n nothing ever compacts: the sketch IS the data and every
# quantile is exact (the q103 oracle regime); with the production
# k=200-ish the sketch is O(k log(n/k)) rows regardless of n.


def _kll_compact_levels(levels: list, k: int) -> None:
    """In-place lazy compaction: while any level holds more than ``k``
    values, sort it, promote every other element of the largest even
    prefix to the next level, keep the odd remainder. The promotion
    offset alternates with the level index (deterministic; alternating
    parity cancels the directional rank bias a fixed offset would
    accumulate across levels)."""
    lvl = 0
    while lvl < len(levels):
        buf = levels[lvl]
        if len(buf) > k:
            buf.sort()
            m = len(buf) - (len(buf) % 2)
            promoted = buf[lvl % 2:m:2]
            rest = buf[m:]
            if lvl + 1 >= len(levels):
                levels.append([])
            levels[lvl + 1].extend(promoted)
            levels[lvl] = rest
        lvl += 1


def _kll_rows(values_by_level, k: int):
    import pandas as pd

    lv, vv = [], []
    for lvl, buf in enumerate(values_by_level):
        lv.extend([lvl] * len(buf))
        vv.extend(buf)
    return pd.DataFrame(
        {
            "level": pd.array(lv, dtype="int32"),
            "value": pd.array(vv, dtype="float64"),
            "k": pd.array([k] * len(lv), dtype="int32"),
        }
    )


def kll_build(
    df: DataFrame, value_col: str, k: int = 200
) -> DataFrame:
    """Build the quantile sketch over ``value_col`` (NULLs dropped —
    they carry no rank). Output: ``(level int, value double, k int)``.

    Two stages, both bounded: an Arrow-batched ``mapInPandas`` folds
    each batch into its own compactor (per-task state <= k * levels
    values), then ONE single-group ``applyInPandas`` merges the
    per-batch sketches by replaying their weighted rows into the
    level buffers and re-compacting — the merge task sees only
    already-compacted rows (<= batches * k * levels), never the raw
    column. Deterministic end to end: batch membership does not
    affect which values a level CAN hold, and the merge re-sorts
    every buffer before compaction.
    """
    if k <= 0:
        raise ValueError("k must be positive")

    def build(batches):
        import pandas as pd

        levels: list = [[]]
        for pdf in batches:
            vals = pd.to_numeric(pdf[value_col], errors="raise").dropna()
            # lazy fold: extend with the whole Arrow batch, compact
            # once — _kll_compact_levels' while-loop reduces an
            # arbitrarily oversized buffer, and fewer, larger
            # compactions carry the same rank-error budget (lazy KLL)
            # at a fraction of the Python per-value cost.
            levels[0].extend(vals.astype("float64").tolist())
            if len(levels[0]) > k:
                _kll_compact_levels(levels, k)
        yield _kll_rows(levels, k)

    partial = df.select(F.col(value_col).cast("double").alias(value_col)) \
        .where(F.col(value_col).isNotNull()) \
        .mapInPandas(build, schema="level int, value double, k int")

    def merge(pdf):
        import pandas as pd  # noqa: F401

        levels: list = [[]]
        for lvl, val in sorted(
            zip(pdf["level"].tolist(), pdf["value"].tolist())
        ):
            while len(levels) <= lvl:
                levels.append([])
            levels[lvl].append(val)
        _kll_compact_levels(levels, k)
        return _kll_rows(levels, k)

    return (
        partial.groupBy(F.lit(1).alias("__g"))
        .applyInPandas(
            lambda _, pdf: merge(pdf),
            schema="level int, value double, k int",
        )
    )


def kll_merge(sketches: DataFrame) -> DataFrame:
    """Merge any union of sketch frames built with the SAME ``k``
    (mixed k raises — rank guarantees would silently degrade to the
    smallest) into one sketch: the shard/epoch rollup path, touching
    only sketch rows. One bounded single-group task, same shape as
    ``kll_build``'s merge stage."""

    def merge(pdf):
        ks = set(pdf["k"].tolist())
        if len(ks) > 1:
            raise ValueError(f"cannot merge sketches with different k: {ks}")
        k = ks.pop()
        levels: list = [[]]
        for lvl, val in sorted(
            zip(pdf["level"].tolist(), pdf["value"].tolist())
        ):
            while len(levels) <= lvl:
                levels.append([])
            levels[lvl].append(val)
        _kll_compact_levels(levels, k)
        return _kll_rows(levels, k)

    return sketches.groupBy(F.lit(1).alias("__g")).applyInPandas(
        lambda _, pdf: merge(pdf), schema="level int, value double, k int"
    )


def kll_quantiles(sketch: DataFrame, qs: list[float]) -> DataFrame:
    """Estimate quantiles from the sketch: ``(q double, value
    double)`` with SQL ``quantile_cont`` semantics — the sketch rows
    are treated as weighted order statistics (a level-L row occupies
    2^L consecutive 0-based ranks), the target rank is ``q * (n - 1)``
    and the answer interpolates linearly between the bracketing order
    statistics. When the sketch never compacted (k >= n) this IS
    quantile_cont of the raw data, bit-for-bit in IEEE double — the
    q103 oracle contract; after compaction the answer is the exact
    quantile of the sketch's weighted sample, whose rank error vs the
    raw data is the KLL guarantee (property-tested).

    Plan: one cumulative-weight window over the SKETCH frame (at most
    O(k log(n/k)) rows — bounded by construction, the same documented
    exception as the 1024-row bucket frames) and two small range
    joins for the bracketing ranks.
    """
    from pyspark.sql import Window

    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {q} outside [0, 1]")

    w = (
        Window.orderBy("value", "level")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Materialize the ranked sketch: it feeds THREE consumers below
    # (the total-weight agg and both bracketing-rank joins), and
    # without a checkpoint each consumer re-executes the caller's
    # entire sketch-build pipeline — q141's plan showed the corpus
    # mapInPandas sketch pass tripled. The frame is sketch-sized
    # (O(k log(n/k)) rows) by construction, so this is O(sketch) at
    # any data scale.
    ranked = (
        sketch.select(
            "value",
            "level",
            F.expr("shiftleft(cast(1 as bigint), level)").alias("__w"),
        )
        .withColumn("__end", F.sum("__w").over(w))
        .withColumn("__start", F.col("__end") - F.col("__w"))
        .localCheckpoint()
    )
    total = ranked.agg(F.max("__end").alias("__n"))
    qdf = (
        total.select(
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
            "__n",
        )
        .withColumn("__t", F.col("q") * (F.col("__n") - 1).cast("double"))
        .withColumn("__rlo", F.floor("__t").cast("bigint"))
        .withColumn(
            "__rhi",
            F.least(F.ceil("__t").cast("bigint"), F.col("__n") - 1),
        )
    )
    lo = qdf.join(
        ranked.select(F.col("value").alias("__vlo"), "__start", "__end"),
        (F.col("__rlo") >= F.col("__start")) & (F.col("__rlo") < F.col("__end")),
    ).select("q", "__t", "__rlo", "__rhi", "__vlo")
    hi = lo.join(
        ranked.select(F.col("value").alias("__vhi"), "__start", "__end"),
        (F.col("__rhi") >= F.col("__start")) & (F.col("__rhi") < F.col("__end")),
    )
    return hi.select(
        "q",
        (
            F.col("__vlo")
            + (F.col("__t") - F.col("__rlo").cast("double"))
            * (F.col("__vhi") - F.col("__vlo"))
        ).alias("value"),
    )


def kll_bucketize(
    df: DataFrame,
    value_col: str,
    sketch: DataFrame,
    n_buckets: int = 10,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Equi-probable feature discretization (the QuantileDiscretizer
    step of ML feature prep) driven by the KLL sketch: bucket
    boundaries are the sketch's ``i/n_buckets`` quantiles, and each
    row gets ``bucket = |{boundary < value}|`` in ``[0, n_buckets-1]``
    (values EQUAL to a boundary fall in the lower bucket; NULL values
    get a NULL bucket).

    This is the sketch-reuse pattern: boundaries come from a sketch
    built ONCE (possibly merged across shards/epochs via
    ``kll_merge``) — re-bucketizing new data never re-reads the
    corpus that defined the distribution. The assignment itself is
    narrow: the (n_buckets-1)-element boundary array is a 1-row
    broadcast cross join and the bucket expression is a JVM
    higher-order ``filter`` — no shuffle, no Python, no per-row
    search structure. In the never-compacted regime (k >= n) the
    boundaries are bit-exact ``quantile_cont`` values, so an external
    SQL engine reproduces every assignment (q141); after compaction
    the boundaries carry the KLL rank guarantee and buckets are
    equi-probable within that error.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be at least 2")
    if bucket_col in df.columns:
        raise ValueError(
            f"column {bucket_col!r} already exists; pass bucket_col="
        )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = kll_quantiles(sketch, qs).agg(
        F.sort_array(F.collect_list("value")).alias("__kbq_bounds")
    )
    v = F.col(value_col).cast("double")
    # Fail-loud on a degenerate boundary array (empty sketch frame →
    # 0 boundaries → every row would silently land in bucket 0; the
    # family convention is hll_merge/hll_estimate's empty-frame
    # raise). assert_true is fused into the bucket expression so it
    # can't be pruned and costs nothing on the happy path.
    boundary_ok = F.assert_true(
        F.size("__kbq_bounds") == F.lit(n_buckets - 1),
        F.lit(
            "kll_bucketize: boundary array does not have n_buckets-1"
            " elements — empty or malformed sketch frame"
        ),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            bucket_col,
            F.when(
                v.isNotNull() & boundary_ok.isNull(),
                F.size(F.filter("__kbq_bounds", lambda b: v > b)),
            ).cast("int"),
        )
        .drop("__kbq_bounds")
    )


def kll_build_grouped(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """Per-group quantile sketches — the stratified twin of
    :func:`kll_build` (per-language token-length distributions,
    per-day latency percentiles): ``(group_cols..., level int,
    value double, k int)``, one independent sketch per group.

    Same two-stage shape: the Arrow-batched stage folds each batch's
    rows into per-group compactors (state <= groups-in-batch * k *
    levels), the merge stage is ONE ``applyInPandas`` per group over
    already-compacted rows — grouped state never exceeds the sketch
    bound, and groups parallelize across executors (no single merge
    task, unlike the global build).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if not group_cols:
        raise ValueError("group_cols must name at least one column")

    out_schema = (
        ", ".join(f"{c} string" for c in group_cols)
        + ", level int, value double, k int"
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            frames = []
            for gkey, sub in pdf.groupby(group_cols, dropna=False, sort=True):
                vals = pd.to_numeric(sub[value_col], errors="raise").dropna()
                levels: list = [[]]
                levels[0].extend(vals.astype("float64").tolist())
                if len(levels[0]) > k:
                    _kll_compact_levels(levels, k)
                rows = _kll_rows(levels, k)
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                for c, v in zip(group_cols, gkey):
                    rows[c] = str(v)
                frames.append(rows)
            if frames:
                yield pd.concat(frames, ignore_index=True)[
                    group_cols + ["level", "value", "k"]
                ]

    partial = (
        df.select(
            *[F.col(c).cast("string") for c in group_cols],
            F.col(value_col).cast("double").alias(value_col),
        )
        .where(F.col(value_col).isNotNull())
        .mapInPandas(build, schema=out_schema)
    )

    def merge(key, pdf):
        levels: list = [[]]
        for lvl, val in sorted(
            zip(pdf["level"].tolist(), pdf["value"].tolist())
        ):
            while len(levels) <= lvl:
                levels.append([])
            levels[lvl].append(val)
        _kll_compact_levels(levels, k)
        rows = _kll_rows(levels, k)
        for c, v in zip(group_cols, key):
            rows[c] = v
        return rows[group_cols + ["level", "value", "k"]]

    return partial.groupBy(*group_cols).applyInPandas(
        merge, schema=out_schema
    )


def kll_quantiles_grouped(
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[float],
) -> DataFrame:
    """Per-group quantile estimates from grouped sketches:
    ``(group_cols..., q double, value double)`` with the same
    quantile_cont semantics as :func:`kll_quantiles` (weighted order
    statistics; target rank q*(n-1); linear interpolation — exact
    when the group never compacted). One ``applyInPandas`` per group
    over the sketch rows (bounded by the sketch size)."""
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {q} outside [0, 1]")

    out_schema = (
        ", ".join(f"{c} string" for c in group_cols)
        + ", q double, value double"
    )
    qlist = [float(q) for q in qs]

    def quants(key, pdf):
        import numpy as np
        import pandas as pd

        order = np.lexsort((pdf["level"].values, pdf["value"].values))
        vals = pdf["value"].values[order]
        w = (1 << pdf["level"].values[order].astype("int64"))
        end = np.cumsum(w)
        n = int(end[-1])
        outv = []
        for q in qlist:
            t = q * (n - 1)
            rlo, rhi = int(np.floor(t)), min(int(np.ceil(t)), n - 1)
            vlo = vals[np.searchsorted(end, rlo, side="right")]
            vhi = vals[np.searchsorted(end, rhi, side="right")]
            outv.append(vlo + (t - rlo) * (vhi - vlo))
        rows = pd.DataFrame({"q": qlist, "value": outv})
        for c, v in zip(group_cols, key):
            rows[c] = v
        return rows[group_cols + ["q", "value"]]

    return sketch.groupBy(*group_cols).applyInPandas(
        quants, schema=out_schema
    )


def kll_rolling_quantiles(
    sketches: DataFrame,
    day_col: str,
    qs: list[float],
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window quantiles from PERSISTED per-day sketches —
    the rollup that justifies keeping sketch rows next to the data:
    each day's ``(day, level, value, k)`` rows (from
    ``kll_build_grouped`` keyed by day) are re-labeled to every day
    of the trailing window they contribute to (a bounded
    ``window_days``-way explode of SKETCH rows, never raw data), and
    per-day quantiles come from the same weighted-order-statistic
    interpolation. Raw events are NEVER re-read: a 90-day p99 over a
    year of persisted daily sketches touches ~365 * k rows total.

    Output: ``(day_col, q double, value double)`` for every day
    present in ``sketches``. Exact (quantile_cont of the window's
    raw values) whenever no contributing sketch compacted; otherwise
    rank-bounded per the KLL guarantee. The union of sketches is a
    valid sketch of the union without re-compaction — weights just
    add — so no merge pass is needed before interpolation.
    """
    if window_days <= 0:
        raise ValueError("window_days must be positive")
    # Consumed twice (the output-day spine and the window explode);
    # un-materialized, the caller's per-day sketch build runs twice.
    # Sketch rows only — bounded by days * k * levels.
    sketches = sketches.localCheckpoint()
    days = sketches.select(F.col(day_col).alias("__day")).distinct()
    contrib = sketches.withColumn(
        "__day",
        F.explode(
            F.expr(
                f"transform(sequence(0, {window_days - 1}), "
                f"i -> date_add(CAST({day_col} AS DATE), i))"
            )
        ),
    ).drop(day_col)
    # keep only output days that actually exist in the input (the
    # trailing window of a day with no sketch row is not a row)
    contrib = contrib.join(
        F.broadcast(days.withColumn("__day", F.col("__day").cast("date"))),
        "__day",
    ).withColumn("__day", F.col("__day").cast("string"))
    out = kll_quantiles_grouped(contrib, ["__day"], qs)
    return out.select(
        F.col("__day").cast("date").alias(day_col), "q", "value"
    )


def _mg_truncate(state: dict, m: int) -> None:
    """In-place Misra-Gries truncation to ``m`` counters: subtract the
    (m+1)-th largest count (ties broken on the item for determinism)
    from every counter and drop the non-positive ones. This is the
    mergeable-summaries combine rule (Agarwal et al. 2012): the
    subtracted mass is what bounds the undercount at n/(m+1) no
    matter how many partial summaries are folded together."""
    if len(state) <= m:
        return
    ordered = sorted(state.items(), key=lambda kv: (-kv[1], kv[0]))
    cth = ordered[m][1]
    state.clear()
    state.update(
        (item, c - cth) for item, c in ordered[:m] if c - cth > 0
    )


def mg_build(df: DataFrame, item_col: str, m: int = 100) -> DataFrame:
    """Misra-Gries heavy-hitters sketch over ``item_col`` (NULLs
    dropped): at most ``m`` counters whose counts UNDERESTIMATE the
    true frequencies by at most ``n / (m + 1)`` each (n = stream
    length), which guarantees every item with true frequency above
    ``n / (m + 1)`` survives. Output: ``(item string, count long,
    m int)`` — persistable as parquet and mergeable across
    shards/epochs with ``mg_merge``, like the Bloom/CMS/KLL/HLL
    artifacts this family already ships.

    Scale shape: one Arrow-batched ``mapInPandas`` folds each task's
    batches into a bounded counter dict — each batch contributes its
    (vectorized) exact value_counts, truncated back to ``m`` by the
    combine rule — then ONE single-group ``applyInPandas`` merges the
    per-task summaries (<= tasks x m rows, never raw items). Counts
    depend on partitioning (it is a sketch; only the error bound is
    partition-invariant), so the family is property-tested rather
    than SQL-oracled, like BPE and the quality classifier.
    """
    if m <= 0:
        raise ValueError("m must be positive")

    def build(batches):
        import pandas as pd

        state: dict = {}
        for pdf in batches:
            vc = pdf[item_col].dropna().value_counts()
            for item, c in vc.items():
                state[item] = state.get(item, 0) + int(c)
            _mg_truncate(state, m)
        items = sorted(state)
        yield pd.DataFrame(
            {
                "item": pd.array(items, dtype="string"),
                "count": pd.array(
                    [state[i] for i in items], dtype="int64"
                ),
                "m": pd.array([m] * len(items), dtype="int32"),
            }
        )

    partial = (
        df.select(F.col(item_col).cast("string").alias(item_col))
        .where(F.col(item_col).isNotNull())
        .mapInPandas(build, schema="item string, count long, m int")
    )
    return mg_merge(partial)


def mg_merge(sketches: DataFrame) -> DataFrame:
    """Merge any union of Misra-Gries sketch frames built with the
    SAME ``m`` (mixed m raises — the error guarantee would silently
    degrade to the smallest) into one: sum counts per item, truncate
    with the combine rule. One bounded single-group task over sketch
    rows only — the shard/epoch rollup path."""

    def merge(pdf):
        import pandas as pd

        ms = set(pdf["m"].tolist())
        if len(ms) > 1:
            raise ValueError(f"cannot merge sketches with different m: {ms}")
        m = int(ms.pop()) if ms else 0
        state: dict = {}
        for item, c in zip(pdf["item"].tolist(), pdf["count"].tolist()):
            state[item] = state.get(item, 0) + int(c)
        _mg_truncate(state, m)
        items = sorted(state)
        return pd.DataFrame(
            {
                "item": pd.array(items, dtype="string"),
                "count": pd.array(
                    [state[i] for i in items], dtype="int64"
                ),
                "m": pd.array([m] * len(items), dtype="int32"),
            }
        )

    return sketches.groupBy(F.lit(1).alias("__g")).applyInPandas(
        lambda _, pdf: merge(pdf), schema="item string, count long, m int"
    )


def mg_heavy_hitters(
    sketch: DataFrame, n_total: int, min_fraction: float
) -> DataFrame:
    """Items whose TRUE frequency may reach ``min_fraction * n_total``
    given the sketch's undercount bound — i.e. every genuine heavy
    hitter is reported (no false negatives), with false positives
    limited to items within ``n_total / (m + 1)`` of the threshold.
    ``n_total`` is the caller's stream length (track it alongside the
    sketch; the sketch itself cannot know dropped mass)."""
    return sketch.where(
        F.col("count")
        >= F.ceil(F.lit(float(min_fraction)) * F.lit(int(n_total)))
        - F.floor(F.lit(int(n_total)) / (F.col("m") + 1))
    ).select("item", "count", "m")


# --------------------------------------------------- portable HLL
#
# Spark ships a native DataSketches HLL (``hll_sketch_agg``, used by
# ``distinct_sketches`` above) whose binary state no other engine can
# replay. This is its PORTABLE twin, completing the oracle-checkable
# sketch family (Bloom membership / CMS frequency / KLL quantiles /
# Misra-Gries heavy hitters / HLL cardinality): registers are derived
# from the same md5 hash family, stored as plain rows — persistable
# as parquet, mergeable by ``max`` per register, and reproducible
# bit-for-bit by any SQL engine with md5() (Flajolet et al. 2007).
#
# Exactness discipline: the harmonic-mean denominator
# sum_j 2^-M_j is kept in INTEGER arithmetic as
# inv_sum_num = sum_j 2^(Rmax - M_j) (a bigint <= 2^61, exact), so
# the only floating-point steps are the final alpha * m^2 * 2^Rmax /
# inv_sum_num — deterministic regardless of aggregation order, hence
# hash-stable across engines and partitionings. (A naive double sum
# of 2^-M_j spans more bits than a double mantissa and would depend
# on combine order.)


def _hll_p(m: int) -> int:
    p = m.bit_length() - 1
    if m <= 0 or (1 << p) != m or not (16 <= m <= 65536):
        raise ValueError(
            "m must be a power of two in [16, 65536]"
        )
    return p


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    m: int = 256,
) -> DataFrame:
    """Build portable HLL register frames: one row per non-empty
    register, ``(group_cols..., reg int, rank int, m int)``.

    Hash: the first 15 hex digits of ``md5(value)`` as a 60-bit
    bigint; ``reg`` is the low ``log2(m)`` bits (modulo), ``rank`` is
    1 + the number of leading zeros of the remaining ``60 - log2(m)``
    bits (computed via ``length(bin(w))`` — integer-exact, no float
    log2). NULL values are skipped (they carry no identity).

    Build cost: one scan + one (group, reg) max groupBy whose key
    space is at most |groups| * m — map-side combinable, nothing
    driver-side, state bounded by the sketch regardless of data
    volume. That is the entire point at 100 TB: counting distinct
    tokens per source costs m rows per source, not a distinct
    shuffle of the token universe.
    """
    p = _hll_p(m)
    rmax = 61 - p
    gcols = list(group_cols or [])
    h = (
        f"cast(conv(substr(md5(cast({value_col} as string)), 1, 15), "
        f"16, 10) as bigint)"
    )
    hashed = df.where(F.col(value_col).isNotNull()).select(
        *gcols,
        F.expr(f"pmod({h}, {m})").cast("int").alias("reg"),
        F.expr(
            f"CASE WHEN {h} DIV {m} = 0 THEN {rmax} "
            f"ELSE {rmax} - length(bin({h} DIV {m})) END"
        ).cast("int").alias("rank"),
    )
    return (
        hashed.groupBy(*gcols, "reg")
        .agg(F.max("rank").cast("int").alias("rank"))
        .withColumn("m", F.lit(m))
    )


def hll_merge(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Union-merge register frames (e.g. one per shard or epoch):
    register-wise ``max`` — the standard HLL combine, associative and
    idempotent, so shards merge in any order/grouping. Mixed
    geometries fail loud (one bounded action over the distinct-``m``
    frame, mirroring the CMS geometry check)."""
    gcols = list(group_cols or [])
    ms = [r["m"] for r in sketches.select("m").distinct().collect()]
    if len(ms) != 1:
        raise ValueError(
            f"cannot merge HLL sketches with mixed m: {sorted(ms)}"
            if ms
            else "cannot merge an empty HLL sketch frame"
        )
    return (
        sketches.groupBy(*gcols, "reg")
        .agg(F.max("rank").cast("int").alias("rank"))
        .withColumn("m", F.lit(int(ms[0])))
    )


def hll_estimate(
    sketch: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cardinality estimate per group from a register frame:
    ``(group_cols..., m int, n_zero bigint, inv_sum_num bigint,
    est_distinct double)`` where ``inv_sum_num = sum_j 2^(Rmax-M_j)``
    (empty registers contribute ``2^Rmax``); the integer-exact
    denominator makes the estimate reproducible anywhere.
    ``est_distinct`` follows Flajolet et al. §4's small-range
    correction: when the raw harmonic-mean estimate ``alpha_m * m^2 *
    2^Rmax / inv_sum_num`` falls below ``2.5 m`` and empty registers
    remain, the raw estimator is known-biased and LINEAR COUNTING
    ``m * ln(m / n_zero)`` is returned instead (both branches are
    pure double math over the emitted integer columns, so external
    engines reproduce the exact branch and value). Geometry is read
    from the frame's ``m`` column (fail-loud if mixed, same bounded
    probe as ``hll_merge``)."""
    gcols = list(group_cols or [])
    ms = [r["m"] for r in sketch.select("m").distinct().collect()]
    if len(ms) != 1:
        raise ValueError(
            f"sketch frame carries mixed m: {sorted(ms)} — merge per "
            "geometry first"
            if ms
            else "cannot estimate from an empty HLL sketch frame"
        )
    m = int(ms[0])
    p = _hll_p(m)
    rmax = 61 - p
    alpha = _hll_alpha(m)
    agg = sketch.groupBy(*gcols).agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {rmax} - rank)")
        ).cast("bigint").alias("__pres"),
        F.count(F.lit(1)).cast("bigint").alias("__n_present"),
    )
    inv = (
        F.col("__pres")
        + (F.lit(m) - F.col("__n_present"))
        * F.lit(1 << rmax).cast("bigint")
    )
    raw = F.lit(alpha * m * m * float(1 << rmax)) / inv.cast("double")
    n_zero = (F.lit(m) - F.col("__n_present")).cast("bigint")
    return agg.select(
        *gcols,
        F.lit(m).alias("m"),
        n_zero.alias("n_zero"),
        inv.cast("bigint").alias("inv_sum_num"),
        F.when(
            (raw < F.lit(2.5 * m)) & (n_zero > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / n_zero.cast("double")),
        )
        .otherwise(raw)
        .alias("est_distinct"),
    )
