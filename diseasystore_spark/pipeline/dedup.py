"""Deduplication operators for large-scale text corpora.

All operators are pure DataFrame plans over built-in JVM functions
(``xxhash64``, ``md5``, array lambdas) — no Python UDFs — so they
whole-stage-codegen and scale linearly with executors:

- **exact**: hash-groupBy on a content digest. One shuffle on the
  digest; at 100 TB this is the canonical map-side-combine groupBy.
- **MinHash + LSH**: shingle -> per-seed min-hash signature -> banded
  bucket join. The candidate join is equi on (band, bucket-hash), so
  it never materializes the O(n^2) pair space; only same-bucket pairs
  shuffle.
- **SimHash**: 64-bit signature via per-bit majority vote; candidate
  pairs via 16-bit chunk banding (pigeonhole: hamming distance <= 3
  guarantees an exact match in one of 4 chunks), verified with
  ``bit_count(a XOR b)``.
- **n-gram Jaccard**: exact verification join on distinct shingles.

Skew note: a frequent shingle (stop-phrase) fans out the verification
join. ``jaccard_pairs`` optionally drops shingles above a document-
frequency cap — the standard trick; at scale set ``max_df`` to a few
thousand.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diseasystore_spark.pipeline._util import gram_key, ngrams_sql, spread, tokens_sql
from diseasystore_spark.trace import note


#: Modulus for the portable double-hash family: the Mersenne prime
#: 2^31 - 1. h_i = (a + i*b) mod P with a, b drawn from one md5 —
#: max(a + 15b) < 2^35, so the arithmetic never overflows a 64-bit
#: signed integer in any engine.
_PORTABLE_P = 2147483647


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by content digest (md5). Returns one row
    per distinct content: (content_hash, rep_id = min id, n_docs)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """One row per (doc, distinct shingle). The per-doc dedup happens
    map-side with ``array_distinct`` BEFORE the explode — a relational
    ``.distinct()`` after it would shuffle the whole exploded shingle
    table (~50x the corpus row count) for a result that is by
    construction already unique per document."""
    grams = ngrams_sql(text_col, n, distinct=True, drop_empty=True)
    return spread(df).select(
        F.col(id_col), F.expr(f"explode({grams}) AS shingle")
    )


#: Blind-exact-mode density threshold for :func:`jaccard_pairs`: the
#: exact shingle self-join enumerates ``sum_s C(df_s, 2)`` candidate
#: pairs (df_s = document frequency of shingle s). Past 100M
#: candidates on a call with no ``max_df`` bound, the blind exact
#: form raises (default) with routing advice — the Sigma-df^2 blow-up
#: is the word-soup failure mode the sf1 sweep measured at 22x for
#: 10x data; :func:`minhash_lsh_pairs` is the scale path.
DENSE_JACCARD_CANDIDATES = 100_000_000


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    df_weight_col: str | None = None,
    density_guard: str = "raise",
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard similarity.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    ``max_df`` drops shingles whose document frequency exceeds it
    (skew guard for the self-join at scale). ``df_weight_col`` names
    an integer column counting how many corpus documents each input
    row stands for (1 if absent): the exact-collapse entry paths pass
    their group size so a shingle's DF is counted over the FULL
    corpus, keeping ``max_df`` semantics identical to running the
    un-collapsed form.

    ``density_guard`` (default ``"raise"``): a BLIND exact call —
    no ``max_df`` — probes the exact candidate volume of the shingle
    self-join (``sum_s C(df_s, 2)`` with df counted over the INPUT
    ROWS — on the exact-collapse entry paths that is the collapsed
    representatives the join actually runs over, NOT the
    ``df_weight_col``-weighted corpus; one aggregate over the
    already-checkpointed shingle index, so the probe adds no extra
    scan of the input) and raises past ``DENSE_JACCARD_CANDIDATES`` with
    routing advice (``minhash_lsh_pairs`` or a ``max_df`` cap), so
    the Sigma-df^2 quadratic cannot be bought blind on a word-soup
    corpus. ``"warn"`` downgrades to a warning; ``"off"`` disables
    the probe for deliberate exact-mode runs. ``max_df`` callers
    never probe — the cap already bounds per-shingle fan-out.
    Unlike ``contact_pairs`` this operator is ALREADY eager at
    construction (it localCheckpoints the shingle index), so the
    probe does not change construction laziness.
    """
    pairs, _sizes = _jaccard_pairs_sized(
        df, id_col, text_col, n, threshold, max_df, df_weight_col,
        density_guard=density_guard,
    )
    return pairs


def _jaccard_pairs_sized(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: int | None,
    df_weight_col: str | None = None,
    density_guard: str = "raise",
) -> tuple[DataFrame, DataFrame]:
    """``jaccard_pairs`` plus the per-document POST-``max_df`` shingle
    set sizes ``(id_col, sz)`` — a doc is present iff >= 1 shingle
    survives the hot-shingle filter (all docs with any shingle when
    ``max_df`` is None). The graph entry paths need this survival
    frame to decide which exact-duplicate groups still carry
    intra-group Jaccard-1 edges after filtering.
    """
    # The self-join only tests shingle equality — join on the 64-bit
    # xxhash64 of the shingle instead of the string: fixed-width keys
    # shrink the shuffle and the sort-merge compares (collision odds
    # across candidate pairs are ~2^-64, far below the noise floor of
    # any near-dup workflow).
    # Materialize the shingle index once (it feeds three consumers:
    # sizes, both join sides — the narrow shingling plan would
    # otherwise re-execute per consumer), but in the COMPACT per-doc
    # array form: the exploded table is ~|shingles-per-doc| times
    # larger, and checkpointing it was the dominant cost of this
    # operator. The explode is re-run per consumer from the
    # checkpointed arrays, which is a cheap narrow map.
    sel = [
        F.col(id_col),
        F.expr(
            ngrams_sql(text_col, n, distinct=True, drop_empty=True, key="xxhash64")
        ).alias("_sh"),
    ]
    if df_weight_col is not None:
        sel.append(F.col(df_weight_col).cast("bigint").alias("_w"))
    if density_guard not in ("off", "warn", "raise"):
        raise ValueError("density_guard must be 'off', 'warn' or 'raise'")
    arr = spread(df).select(*sel).where(F.size("_sh") > 0).localCheckpoint()
    if density_guard != "off" and max_df is None:
        # Sigma-df^2 probe over the checkpointed arrays: exact
        # candidate count of the shingle self-join, sum_s C(df_s, 2)
        # counted over the INPUT ROWS — deliberately UNWEIGHTED even
        # when ``df_weight_col`` is set. The self-join below runs
        # over the collapsed representatives, so its fan-out is
        # C(rep-frequency, 2) per shingle; weighting by group size
        # would re-count the un-collapsed corpus and spuriously block
        # exactly the duplicate-heavy corpora the exact-collapse
        # entry paths exist for (1M identical docs -> 1 rep ->
        # ~zero real candidates, not C(1M, 2)). ``_w`` stays
        # corpus-weighted for ``max_df`` semantics only. One
        # explode+agg over data already in the block manager.
        est_row = (
            arr.select(F.explode("_sh").alias("__s"))
            .groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .agg(
                F.coalesce(
                    F.sum(F.col("__df") * (F.col("__df") - 1) / 2), F.lit(0)
                )
                .cast("bigint")
                .alias("est")
            )
            .collect()[0]
        )
        est = int(est_row["est"] or 0)
        note(density_guard_estimate=est)
        if est > DENSE_JACCARD_CANDIDATES:
            msg = (
                f"jaccard_pairs: the exact shingle self-join would "
                f"enumerate an estimated {est:,} candidate pairs "
                f"(sum over shingles of C(df, 2), df counted over "
                f"the input rows actually joined), exceeding "
                f"{DENSE_JACCARD_CANDIDATES:,}. Route through "
                "minhash_lsh_pairs (banded LSH: linear candidate "
                "volume), or bound the fan-out with max_df (drops "
                "hot shingles), or pass density_guard='off' to force "
                "the exact form."
            )
            if density_guard == "raise":
                raise ValueError(msg)
            warnings.warn(msg, stacklevel=3)
    sh = arr.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    if max_df is not None:
        w = F.col("_w") if df_weight_col is not None else F.lit(1)
        hot = (
            arr.select(
                *([F.col("_w")] if df_weight_col is not None else []),
                F.explode("_sh").alias("shingle"),
            )
            .groupBy("shingle")
            .agg(F.sum(w).cast("bigint").alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
            .localCheckpoint()  # bounded: hot shingles only
        )
        if not hot.take(1):
            # Conservative caps usually catch nothing: skip the
            # anti-join AND the post-filter size shuffle (the sizes
            # are provably the pre-filter array sizes), so a guarded
            # call on a clean corpus costs one aggregation, not three
            # extra shuffles. The take(1) is a bounded action on the
            # already-materialized hot frame.
            max_df = None
        else:
            sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
            # sizes must reflect the post-filter shingle sets
            sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if max_df is None:
        # per-doc set size needs no shuffle at all — it's the array size
        sizes = arr.select(F.col(id_col), F.size("_sh").alias("sz"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    pairs = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return pairs, sizes


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: for each seed i, the minimum of
    ``hash(shingle, i)`` over the document's distinct shingles.
    Returns (id, sig array<bigint>).

    Default hashing is per-seed ``xxhash64`` (fast, JVM-specific).
    ``portable=True`` uses the Kirsch-Mitzenmacher double-hash family
    instead: ONE md5 per shingle yields two 31-bit values (a, b) and
    seed i's hash is ``(a + i*b) mod (2^31 - 1)`` — pure integer
    arithmetic any SQL engine reproduces exactly (q23's DuckDB oracle
    computes the identical signature matrix), at one md5 per shingle
    instead of ``num_hashes``.

    Physical shape: explode the (pre-deduped, per-row
    ``array_distinct``) shingle array and aggregate one
    ``array(min(...), ...)`` of ``num_hashes`` mins by id. Every
    per-shingle hash then runs as a whole-stage-codegen projection —
    the earlier narrow-map form kept the hashes inside
    ``transform``/``zip_with`` lambdas, which execute on the
    INTERPRETED expression path (measured at sf0.1:
    the q23 signature stage burned 15+ CPU-seconds; the codegen form
    halves it). The min aggregates are map-side combinable and a
    document's exploded shingles never leave their partition, so the
    partial aggregate collapses each doc to ONE row before the
    exchange: the shuffle carries |docs| signature rows (the
    operator's own output size), NOT the shingle table. (The
    distinct stays per-row via ``array_distinct`` — a post-explode
    ``distinct()`` is what would shuffle the full shingle table.)
    Docs with no shingles (shorter than ``n`` tokens) are dropped,
    matching the old form's ``WHERE size > 0``."""
    df = spread(df)
    ex = df.select(
        F.col(id_col),
        F.expr(
            f"explode({ngrams_sql(text_col, n, distinct=True, drop_empty=True)})"
        ).alias("_s"),
    )
    # Each signature is ONE SQL expression: Column calls cost a Py4J
    # round trip per node at build time, SQL text costs one per
    # expression. Integer seed literals keep the hash inputs int-typed.
    if not portable:
        mins = [f"min(xxhash64(_s, {i}))" for i in range(num_hashes)]
    else:
        p = _PORTABLE_P
        half = "cast(conv(substring(md5(_s), {}, 8), 16, 10) as bigint) % {}"
        ex = ex.select(
            F.col(id_col),
            F.expr(half.format(1, p)).alias("_a"),
            F.expr(half.format(9, p)).alias("_b"),
        )
        mins = [f"min((_a + {i} * _b) % {p})" for i in range(num_hashes)]
    sig = F.expr(f"array({', '.join(mins)})").alias("sig")
    return ex.groupBy(id_col).agg(sig)


def _cap_buckets(band_rows: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop (band, bucket) groups larger than ``max_bucket`` (quadratic
    hotspot guard): hot buckets are found with one map-side-combinable
    count and removed via a broadcast anti-join."""
    if max_bucket is None:
        return band_rows
    hot = (
        band_rows.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_bucket)
        .select("band", "bucket")
    )
    return band_rows.join(F.broadcast(hot), ["band", "bucket"], "left_anti")


def _first_band_match(bands: int, rows_per_band: int) -> Column:
    """CASE expression giving the first band index whose signature
    slices agree between sig_a and sig_b (NULL when none do)."""

    def band_eq(bb: int) -> str:
        # left-deep, as Column ``&`` chains build it (the parser would
        # balance a flat AND chain)
        cond = ""
        for k in range(bb * rows_per_band, (bb + 1) * rows_per_band):
            eq = f"sig_a[{k}] = sig_b[{k}]"
            cond = f"({cond}) AND ({eq})" if cond else eq
        return cond

    whens = " ".join(f"WHEN {band_eq(bb)} THEN {bb}" for bb in range(bands))
    return F.expr(f"CASE {whens} END")


def _band_rows(
    sigs: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    portable: bool,
    out_id: str,
    out_sig: str,
) -> DataFrame:
    """(out_id, out_sig, band, bucket): one row per signature band,
    ``bucket`` hashing the band's slice of ``sig`` (md5 of the
    '|'-joined values when ``portable``, else xxhash64). One explode
    expression, built as SQL text in a single Py4J call."""

    def bucket(b: int) -> str:
        cells = [f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)]
        if portable:
            cast = ", ".join(f"cast({c} as string)" for c in cells)
            return f"md5(concat_ws('|', {cast}))"
        return f"xxhash64({', '.join(cells)})"

    structs = ", ".join(
        f"struct({b} AS band, {bucket(b)} AS bucket)" for b in range(bands)
    )
    ids = F.col(id_col) if out_id == id_col else F.col(id_col).alias(out_id)
    sig = F.col("sig") if out_sig == "sig" else F.col("sig").alias(out_sig)
    return sigs.select(
        ids, sig, F.expr(f"explode(array({structs}))").alias("bb")
    ).select(out_id, out_sig, F.col("bb.band"), F.col("bb.bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.0,
    portable: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signatures are split into ``bands`` bands of ``num_hashes/bands``
    rows; documents sharing any band hash become candidates (equi-join
    on (band, band_hash) — never O(n^2)). Output:
    (id_a, id_b, est_jaccard) where est_jaccard is the fraction of
    matching signature positions. ``portable=True`` hashes with md5
    instead of xxhash64 so a DuckDB oracle reproduces the exact pair
    set (q23).

    ``max_bucket`` is the skew valve for degenerate corpora: a band
    bucket holding b documents contributes b^2 candidate rows, so a
    boilerplate-heavy corpus (thousands of near-identical documents)
    turns one bucket into a quadratic hotspot no AQE split can fix
    (it is real output, not shuffle imbalance). Buckets above the cap
    are dropped via a broadcast anti-join — run exact dedup first to
    collapse identical content, which is where oversize buckets come
    from. Recall within the cap is unaffected for pairs whose OTHER
    matching bands stay under it.
    """
    rows_per_band = num_hashes // bands
    # Signatures feed both sides of the candidate self-join; their
    # plan ends in the signature groupBy's exchange. Measured on q23
    # (sf0.002), dropping this pin only moves its 3 jobs into the
    # sink (build 0.41 s + sink 0.88 s, against 0.99 s + 0.29 s with
    # it): the total does not change. (id + num_hashes longs) per doc
    # is tiny.
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, n, portable
    ).localCheckpoint()
    band_rows = _cap_buckets(_band_rows(
        sigs, id_col, bands, rows_per_band, portable, id_col, "sig"
    ), max_bucket)

    a = band_rows.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    b = band_rows.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    # Emit each pair from its FIRST truly-matching band only: with
    # both signatures in the joined row, band-slice equality is a
    # per-row predicate, so duplicate candidates are eliminated by a
    # narrow filter instead of a dropDuplicates shuffle over the
    # candidate set (the widest frame in the plan). Bucket-hash
    # collisions without slice equality (~2^-64) are dropped too —
    # they were never near-duplicates. (With ``max_bucket`` the first
    # matching band may have been capped away, so the narrow filter
    # would drop pairs still reachable through a later band — fall
    # back to a dropDuplicates over the capped candidate set there.)
    joined = a.join(b, ["band", "bucket"]).where(F.col("id_a") < F.col("id_b"))
    if max_bucket is None:
        first_match = _first_band_match(bands, rows_per_band)
        cand = joined.where(F.col("band") == first_match).select(
            "id_a", "id_b", "sig_a", "sig_b"
        )
    else:
        cand = joined.select("id_a", "id_b", "sig_a", "sig_b").dropDuplicates(
            ["id_a", "id_b"]
        )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, "
        "(acc, v) -> acc + v)"
    ) / F.lit(num_hashes)
    return (
        cand.select("id_a", "id_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_est_jaccard)
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.0,
    portable: bool = False,
    max_bucket: int | None = None,
    right_signatures: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus near-duplicate screening: LSH-join ``left``
    documents against ``right`` (e.g. a new ingest batch against the
    existing corpus, or training documents against a benchmark set for
    contamination checks). Returns (left_id, right_id, est_jaccard).
    ``max_bucket`` caps per-(band, bucket) group size on EACH side
    (see ``minhash_lsh_pairs``) — the guard for boilerplate-heavy
    corpora whose hot buckets would make the join quadratic.

    Same banding scheme as ``minhash_lsh_pairs`` but two-sided: the
    candidate join is equi on (band, bucket) between the two corpora —
    never |left| x |right| — and each pair is emitted from its first
    matching band (narrow filter, no dedup shuffle).

    ``right_signatures`` is the precompute hook a production pipeline
    uses: pass ``minhash_signatures(corpus, ...)`` — materialized
    once (cache/localCheckpoint/table) — and repeated calls (e.g. one
    per streaming micro-batch) skip recomputing the corpus side
    entirely; per-call cost is then proportional to ``left``. The
    frame must carry ``(id_col, sig)`` built with the SAME
    ``num_hashes``/``n``/``portable``; ``right`` is ignored when it
    is given.

    The two id spaces are assumed to share meaning: a left id equal
    to a right id is treated as the same document and its trivial
    self-pair (est_jaccard 1.0) is suppressed, so re-screening a
    batch already ingested into the corpus doesn't flag every
    document against itself.
    """
    rows_per_band = num_hashes // bands
    sig_l = minhash_signatures(
        left, id_col, text_col, num_hashes, n, portable
    ).localCheckpoint()
    if right_signatures is not None:
        sig_r = right_signatures
    else:
        sig_r = minhash_signatures(
            right, id_col, text_col, num_hashes, n, portable
        ).localCheckpoint()

    a = _cap_buckets(_band_rows(
        sig_l, id_col, bands, rows_per_band, portable, "left_id", "sig_a"
    ), max_bucket)
    b = _cap_buckets(_band_rows(
        sig_r, id_col, bands, rows_per_band, portable, "right_id", "sig_b"
    ), max_bucket)

    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, "
        "(acc, v) -> acc + v)"
    ) / F.lit(num_hashes)
    joined = a.join(b, ["band", "bucket"]).where(
        F.col("left_id") != F.col("right_id")
    )
    if max_bucket is None:
        joined = joined.where(
            F.col("band") == _first_band_match(bands, rows_per_band)
        )
    else:
        joined = joined.select(
            "left_id", "right_id", "sig_a", "sig_b"
        ).dropDuplicates(["left_id", "right_id"])
    return (
        joined.select("left_id", "right_id", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_est_jaccard)
    )


def near_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    collect_threshold: int = 2_000_000,
    algorithm: str = "label",
    pair_method: str = "jaccard",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
    portable: bool = False,
    density_guard: str = "raise",
) -> DataFrame:
    """Production near-duplicate grouping — the composition a real
    curation pipeline runs: exact-collapse -> near-dup pairs over the
    distinct contents only -> connected components -> expand back to
    every document. Output: (id, component, is_canonical) for EVERY
    input document ("keep one per cluster" = ``WHERE is_canonical``).

    Collapsing exact duplicates BEFORE pair generation removes the
    dominant quadratic hotspot: a group of e identical documents
    contributes e*(e-1)/2 trivial pairs plus an e-times fan-out
    against every near neighbor, all carrying zero information. The
    result is IDENTICAL to running components over the full corpus
    pair list (identical documents are Jaccard-1 pairs, so they merge
    into their representative's cluster either way; each exact
    group's min id IS its representative, so cluster minima agree) —
    the q53 oracle checks the equality by construction.

    Pair generation (``pair_method``): ``"jaccard"`` (default) is
    exact n-gram Jaccard over representatives; ``"minhash"`` is banded
    MinHash LSH (``minhash_lsh_pairs`` with ``num_hashes``/``bands``/
    ``max_bucket``/``portable`` passed through, ``threshold`` applied
    to the signature-estimated Jaccard) — the scale path when the
    shingle-intersection join is too wide. The exact-collapse
    equivalence argument holds for both: identical documents have
    identical signatures, hence estimated Jaccard 1.
    """
    if pair_method not in ("jaccard", "minhash"):
        raise ValueError(
            f"pair_method must be 'jaccard' or 'minhash', got {pair_method!r}"
        )
    # Shared collapse helper: one digest shuffle (text rides along),
    # groups checkpointed for the member/rep_docs consumers — the
    # same plan q37/q82's entry paths run.
    member, rep_docs, _rep_info = _exact_collapse(df, id_col, text_col)
    if pair_method == "minhash":
        pairs = minhash_lsh_pairs(
            rep_docs,
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            n=n,
            min_est_jaccard=threshold,
            portable=portable,
            max_bucket=max_bucket,
        )
    else:
        # __m-weighted DF: max_df counts document frequency over the
        # FULL corpus (each exact duplicate counts), identical to the
        # un-collapsed form's semantics.
        pairs = jaccard_pairs(
            rep_docs,
            id_col,
            text_col,
            n=n,
            threshold=threshold,
            max_df=max_df,
            df_weight_col="__m",
            density_guard=density_guard,
        )
    comps = dedup_components(
        pairs,
        collect_threshold=collect_threshold,
        algorithm=algorithm,
    )
    return (
        member.join(comps, member["__rep"] == comps["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col("__rep")).alias("component"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("component"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 9,
    window: int = 4,
    min_containment: float = 0.5,
    portable: bool = False,
    max_df: int | None = None,
    density_guard: str = "raise",
) -> DataFrame:
    """Containment candidates via shared winnowing fingerprints:
    pairs scored by ``|fp(a) ∩ fp(b)| / min(|fp(a)|, |fp(b)|)`` — the
    asymmetric copy-detection measure. A short document pasted inside
    a much longer one scores ~1.0 here even though its Jaccard (and
    hence MinHash/SimHash estimate) is near zero — the containment
    case those operators miss BY DESIGN, covered by winnowing
    fingerprints (Schleimer et al., SIGMOD'03) instead.

    Candidate generation is an equi self-join on the fingerprint —
    never all-pairs; only documents sharing at least one fingerprint
    meet. ``max_df`` drops fingerprints present in more than that
    many documents (broadcast anti-join) — the boilerplate guard,
    same shape as ``jaccard_pairs``'s shingle cap. Output:
    (id_a, id_b, shared, containment) with id_a < id_b,
    containment >= ``min_containment``. ``portable=True`` uses the
    md5 fingerprint family so a SQL oracle reproduces the exact pair
    set (q50).

    ``density_guard`` (default ``"raise"``, VERDICT r10 item 5 —
    guard parity with ``jaccard_pairs``/``contact_pairs``): a BLIND
    call — no ``max_df`` — probes the exact candidate volume of the
    fingerprint self-join (``sum_fp C(df, 2)``, one aggregate over
    the already-checkpointed fingerprint index) and raises past
    ``DENSE_JACCARD_CANDIDATES`` with routing advice; ``"warn"``
    downgrades, ``"off"`` disables for deliberate exact runs. Like
    ``jaccard_pairs`` (and unlike ``contact_pairs``) this operator
    is ALREADY eager at construction (the checkpoint), so an eager
    probe changes nothing about laziness.
    """
    from diseasystore_spark.pipeline.text import doc_fingerprints

    if density_guard not in ("off", "warn", "raise"):
        raise ValueError("density_guard must be 'off', 'warn' or 'raise'")
    # The fingerprint table feeds three consumers (sizes + both join
    # sides). Unlike the cheap tf recompute in tfidf_top_terms,
    # re-deriving winnowing fingerprints is O(len * window) JVM work
    # per row — measured ~2x faster WITH the checkpoint at sf0.1.
    fp = doc_fingerprints(
        df, id_col, text_col, k=k, window=window, portable=portable
    ).localCheckpoint()
    if density_guard != "off" and max_df is None:
        est = int(
            fp.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("__df"))
            .agg(
                F.coalesce(
                    F.sum(F.col("__df") * (F.col("__df") - 1) / 2), F.lit(0)
                )
                .cast("bigint")
                .alias("est")
            )
            .collect()[0]["est"]
            or 0
        )
        note(density_guard_estimate=est)
        if est > DENSE_JACCARD_CANDIDATES:
            msg = (
                f"containment_pairs: the fingerprint self-join would "
                f"enumerate an estimated {est:,} candidate pairs "
                f"(sum over fingerprints of C(df, 2)), exceeding "
                f"{DENSE_JACCARD_CANDIDATES:,}. Bound the fan-out "
                "with max_df (drops boilerplate fingerprints shared "
                "by many documents), or pass density_guard='off' to "
                "force the exact form."
            )
            if density_guard == "raise":
                raise ValueError(msg)
            warnings.warn(msg, stacklevel=2)
    if max_df is not None:
        hot = (
            fp.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("fingerprint")
        )
        fp = fp.join(F.broadcast(hot), "fingerprint", "left_anti")
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = fp.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_b"), "fingerprint")
    shared = (
        a.join(b, "fingerprint")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            (
                F.col("shared") / F.least(F.col("sz_a"), F.col("sz_b"))
            ).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def benchmark_ngram_keys(
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    portable: bool = False,
) -> DataFrame:
    """Distinct hashed n-gram keys of a benchmark set — the
    precomputable side of ``ngram_decontaminate``. Compute once (and
    ``localCheckpoint`` it) when screening many batches/streams
    against the same benchmark; pass via ``benchmark_keys``. The
    ``n``/``portable`` settings must match the screening call."""
    grams = ngrams_sql(
        text_col, n, distinct=True, drop_empty=True, key=gram_key(portable)
    )
    return (
        spread(benchmark)
        .select(F.explode(F.expr(grams)).alias("__k"))
        .distinct()
    )


def ngram_decontaminate(
    df: DataFrame,
    benchmark: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    portable: bool = False,
    benchmark_keys: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram benchmark decontamination (the GPT-3 appendix-C /
    PaLM eval-leakage check, public): flag every training document
    sharing at least one word n-gram with the benchmark set, with the
    count of distinct shared n-grams as evidence strength.

    Output: (id, n_shared_ngrams, contaminated) for EVERY document of
    ``df`` — zero/false rows included, so the clean-keep filter is
    ``WHERE NOT contaminated``. Complements ``minhash_lsh_join``
    (similarity-level contamination): this is membership-exact — a
    single verbatim benchmark sentence inside a long document flags
    it even though whole-document similarity is near zero.

    Scale shape: both sides dedup n-grams per row map-side
    (``array_distinct`` before the explode) and reduce to distinct
    HASHES — the join carries 64-bit keys (or md5 hex under
    ``portable=True``, reproducible in any SQL engine for the q61
    oracle), never n-gram text. The benchmark side is aggregated to a
    distinct-hash set (benchmarks are tiny relative to training
    corpora) and broadcast; flagging is one broadcast equi-join + one
    per-doc count. Collision semantics: a false flag needs an
    xxhash64/md5 collision (~2^-64 per pair) — acceptable for a
    filter whose output is a conservative drop-list.

    Pass ``benchmark_keys`` (from ``benchmark_ngram_keys``, computed
    with the same ``n``/``portable``) instead of ``benchmark`` to
    reuse a precomputed key set across many screening calls — the
    streaming path (``stream_decontaminate_against_benchmark``)."""
    if (benchmark is None) == (benchmark_keys is None):
        raise ValueError("pass exactly one of benchmark or benchmark_keys")
    grams = ngrams_sql(
        text_col, n, distinct=True, drop_empty=True, key=gram_key(portable)
    )
    bench_keys = (
        benchmark_keys
        if benchmark_keys is not None
        else benchmark_ngram_keys(benchmark, id_col, text_col, n, portable)
    )
    hits = (
        spread(df)
        .select(F.col(id_col), F.explode(F.expr(grams)).alias("__k"))
        .join(F.broadcast(bench_keys), "__k")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_ngrams"))
    )
    return (
        df.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).cast(
                "bigint"
            ).alias("n_shared_ngrams"),
            (F.coalesce(F.col("n_shared_ngrams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def contamination_fraction(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    portable: bool = False,
    benchmark_keys: DataFrame | None = None,
) -> DataFrame:
    """Graded benchmark-overlap evidence: the FRACTION of each
    training document's distinct word n-grams that appear in the
    benchmark set — the thresholding quantity real decontamination
    uses (e.g. "drop documents with > X% 8-gram overlap", the
    Llama-2 / GPT-4 style graded variant of the boolean
    ``ngram_decontaminate`` flag, public technique).

    Output: ``(id, n_shared_ngrams, n_total_ngrams, shared_ppm)`` for
    EVERY document; ``shared_ppm = round(shared/total * 1e6)``
    (bigint-exact across engines on identical integer operands —
    same micro-int convention as ``mixture_weights``). Documents
    shorter than ``n`` words have zero n-grams and report 0 ppm.

    Scale shape: identical to ``ngram_decontaminate`` — per-row
    distinct n-gram HASHES (never n-gram text past the map side), a
    broadcast benchmark key set, one per-doc count. The per-doc total
    is ``size()`` of the gram array in a second NARROW branch of the
    same projection — a cheap map-only recompute (the repo's measured
    rule: narrow recomputes beat materializing multi-consumer
    frames), not a shuffle."""
    if (benchmark is None) == (benchmark_keys is None):
        raise ValueError("pass exactly one of benchmark or benchmark_keys")
    grams = ngrams_sql(
        text_col, n, distinct=True, drop_empty=True, key=gram_key(portable)
    )
    bench_keys = (
        benchmark_keys
        if benchmark_keys is not None
        else benchmark_ngram_keys(benchmark, id_col, text_col, n, portable)
    )
    base = spread(df).select(
        F.col(id_col), F.expr(grams).alias("__grams")
    )
    totals = base.select(
        F.col(id_col), F.size("__grams").alias("n_total_ngrams")
    )
    hits = (
        base.select(F.col(id_col), F.explode("__grams").alias("__k"))
        .join(F.broadcast(bench_keys), "__k")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    shared = F.coalesce(F.col("__shared"), F.lit(0)).cast("bigint")
    return totals.join(hits, id_col, "left").select(
        F.col(id_col),
        shared.alias("n_shared_ngrams"),
        F.col("n_total_ngrams").cast("bigint").alias("n_total_ngrams"),
        F.when(F.col("n_total_ngrams") > 0, F.round(
            shared.cast("double")
            / F.col("n_total_ngrams").cast("double") * 1e6
        ).cast("bigint")).otherwise(F.lit(0).cast("bigint")).alias(
            "shared_ppm"
        ),
    )


_SIMHASH_LANE = 21
_SIMHASH_LANE_MASK = (1 << _SIMHASH_LANE) - 1
_SIMHASH_LANES_PER_LONG = 3
_SIMHASH_SLOTS = 22  # ceil(64 / 3)


def _simhash_slot_bits(j: int) -> list[int]:
    return [
        b
        for b in range(
            j * _SIMHASH_LANES_PER_LONG, (j + 1) * _SIMHASH_LANES_PER_LONG
        )
        if b < 64
    ]


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per document: per-bit majority vote over token
    hashes. Returns (id, simhash bigint).

    ``portable=True`` swaps the token hash for the first 60 bits of
    md5 (``conv(hex, 16, 10)``): bits 60-63 are then constantly zero
    (an effective 60-bit simhash), but the value is reproducible in
    any md5-capable SQL engine, which is what makes q24's DuckDB
    oracle exact.

    The 64 per-bit set-counts are packed three 21-bit lanes per long,
    so the grouped aggregation carries 22 sum slots + a row count
    instead of 64 sums — ~3x less aggregate state and codegen, and 3
    shifts per token row per slot (all map-side combinable). Lane
    arithmetic is overflow-free for documents up to 2^21 - 2 ≈ 2M
    tokens (the top lane of a slot must keep count * 2^42 within a
    signed long); a per-doc token count beyond that would corrupt
    lanes silently, so the practical contract is <= 2M tokens/doc —
    far beyond any real document.

    Majority vote: bit b is set iff ``2 * count_b >= n_tokens``
    (identically the old ``sum of (+1/-1) >= 0`` formulation).

    Physical shape: explode the token array and aggregate the 22
    packed slot sums (+ the token count) by id. The per-token md5 and
    the shift/mask lane packing then run as whole-stage-codegen
    projections — the earlier narrow-map form kept the token hash
    inside a ``transform`` lambda and re-scanned the hash array with
    22 interpreted ``aggregate`` lambdas (measured at sf0.1: the q24
    signature stage burned 34 CPU-seconds; codegen halves it). The
    sums are map-side combinable and a document's exploded tokens
    never leave their scan partition, so the partial aggregate
    collapses each doc to ONE row before the exchange: the shuffle
    carries |docs| packed-sum rows (output-sized), NOT the token
    table. Docs with zero tokens are dropped, matching the old
    form's ``WHERE n_tok > 0``.
    """
    tok_hash = (
        "cast(conv(substr(md5(_t), 1, 15), 16, 10) as bigint)"
        if portable
        else "xxhash64(_t)"
    )
    ex = (
        spread(df)
        .select(
            F.col(id_col),
            F.expr(f"explode({tokens_sql(text_col, drop_empty=True)}) AS _t"),
        )
        .select(F.col(id_col), F.expr(tok_hash).alias("_h"))
    )
    packed = []
    for j in range(_SIMHASH_SLOTS):
        terms = " + ".join(
            f"(shiftrightunsigned(_h, {b}) & 1) * {1 << (_SIMHASH_LANE * i)}L"
            for i, b in enumerate(_simhash_slot_bits(j))
        )
        packed.append(F.sum(F.expr(terms)).alias(f"s{j}"))
    sums = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"), *packed
    )
    sim = None
    for j in range(_SIMHASH_SLOTS):
        for i, b in enumerate(_simhash_slot_bits(j)):
            cnt = F.shiftrightunsigned(
                F.col(f"s{j}"), _SIMHASH_LANE * i
            ).bitwiseAND(F.lit(_SIMHASH_LANE_MASK))
            bit_val = (
                F.lit(-(2**63)).cast("long")
                if b == 63
                else F.lit(1 << b).cast("long")
            )
            term = F.when(cnt * 2 >= F.col("n_tok"), bit_val).otherwise(
                F.lit(0).cast("long")
            )
            sim = term if sim is None else sim + term
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding: with C chunks of 64/C bits, distance < C
    implies at least one chunk matches exactly, so candidates come
    from C equi-joins, then are verified with bit_count(xor). The
    chunk count scales with the threshold (``max_hamming + 1``,
    minimum 2; ``max_hamming`` above 31 raises — 64 bits cannot band
    a larger radius) so the recall guarantee holds for thresholds
    past the default 3 — with exactly-4 chunks a distance-4 pair
    could differ in every chunk and be missed."""
    # Pigeonhole: with C = max_hamming + 1 chunks, a pair within the
    # hamming threshold must agree exactly on at least one chunk.
    # Chunk widths are floor(64/C) with the remainder folded into the
    # last chunk. Narrower chunks mean more candidate collisions —
    # high-radius simhash LSH is intrinsically more expensive; keep
    # max_hamming small at scale.
    chunks_n = max(max_hamming + 1, 2)
    if chunks_n > 32:
        raise ValueError(f"max_hamming too large for 64-bit banding: {max_hamming}")
    w = 64 // chunks_n
    bounds = [
        (c * w, (64 - c * w) if c == chunks_n - 1 else w)
        for c in range(chunks_n)
    ]
    # (id, simhash) is 16 bytes/doc and feeds both join sides —
    # materialize once (the simhash plan is narrow; no exchange reuse).
    sims = simhash64(df, id_col, text_col, portable).localCheckpoint()
    chunks = sims.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for c, (start, width) in enumerate(bounds)
                ]
            )
        ).alias("cc"),
    ).select(F.col(id_col), "simhash", F.col("cc.chunk"), F.col("cc.val"))
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "chunk", "val"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "chunk", "val"
    )
    # Emit each pair from its FIRST matching chunk only: chunk
    # equality is derivable per-row from sim_a XOR sim_b, so
    # duplicate candidates fall to a narrow filter — no
    # dropDuplicates shuffle over the candidate set.
    x = F.col("sim_a").bitwiseXOR(F.col("sim_b"))

    def _chunk_match(c: int) -> Column:
        start, width = bounds[c]
        return (
            F.shiftrightunsigned(x, start).bitwiseAND(F.lit((1 << width) - 1))
            == 0
        )

    first_match = F.when(_chunk_match(0), F.lit(0))
    for c in range(1, chunks_n):
        first_match = first_match.when(_chunk_match(c), F.lit(c))
    return (
        a.join(b, ["chunk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(x))
        .where(F.col("hamming") <= max_hamming)
        .where(F.col("chunk") == first_match)
        .select("id_a", "id_b", "hamming")
    )


def dedup_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 25,
    collect_threshold: int = 2_000_000,
    algorithm: str = "label",
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step
    that turns pairwise similarity (``minhash_lsh_pairs`` /
    ``simhash_pairs`` / ``jaccard_pairs`` output) into actionable
    dedup groups: every document gets the min id of its transitive
    duplicate cluster as ``component``, so "keep one per cluster"
    becomes ``WHERE id = component``.

    Two physical strategies behind one result:

    - **Small edge lists** (≤ ``collect_threshold`` pairs — dedup
      pair lists are tiny relative to the corpus; 2M pairs ≈ 64 MB on
      the driver): collect once and run union-find with path
      compression driver-side. The size gate is a single
      ``limit(threshold + 1).collect()`` probe — one Spark action,
      no checkpoint — the same size-gated trade a broadcast join
      makes. Only when the probe overflows does the edge list get
      materialized for the distributed path (one extra execution of
      the pair plan, paid exactly once, in the regime where the
      distributed rounds dominate anyway). Pass
      ``collect_threshold=0`` to force the distributed path.
    - **Large edge lists**: distributed iteration, two algorithms
      behind ``algorithm=``:

      * ``"label"`` (default): min-label propagation. Each round
        every node takes ``min(own label, neighbors' labels)`` — one
        equi-join of the (symmetrized) edge list against the label
        frame plus one map-side-combinable groupBy, i.e. two shuffles
        per round, no driver-side state beyond the converged flag.
        Rounds needed = graph diameter; duplicate clusters are
        near-cliques (diameter 2-3), so this converges in 3-4 rounds
        at any data size. Each round localCheckpoints the label
        frame: the lineage would otherwise double per iteration and
        re-execute all prior joins on every action.
      * ``"star"``: alternating large-star/small-star contraction
        (the classic MapReduce connected-components algorithm —
        Kiveris et al., "Connected Components in MapReduce and
        Beyond", SoCC 2014). Each half-round is one window-min over
        the edge list partitioned by node plus a distinct — no
        label-frame join — and the round count is O(log^2 n)
        REGARDLESS of diameter. Use for adversarial chain/path
        shaped graphs (e.g. containment chains from fingerprinting)
        where label propagation would need diameter rounds.

    ``algorithm="auto"`` picks the physical strategy by the regime
    actually reached: union-find when the edge list fits the driver
    gate, star contraction otherwise — once the edge list is too big
    to collect, the graph's shape is unknown, and star's O(log^2 n)
    round bound is the guarantee label propagation can't give (label
    stays the *explicit* default for callers who know their pairs are
    near-clique dedup clusters).

    Returns (id, component) for every node appearing in ``pairs``.
    Raises if the distributed path has not converged within
    ``max_iterations`` (under ``"label"``, a diameter that large
    usually means the input is not a dedup pair list — retry with
    ``algorithm="star"``).
    """
    if algorithm not in ("label", "star", "auto"):
        raise ValueError(
            f"algorithm must be 'label', 'star', or 'auto', got {algorithm!r}"
        )
    raw_plan = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    probe = None
    if collect_threshold > 0:
        # Arrow-batched fetch: at the threshold this moves ~2M rows,
        # where row-at-a-time .collect() spends tens of seconds just
        # materializing pyspark Rows — pure driver overhead paid even
        # when the probe overflows and the distributed path runs
        probe = raw_plan.limit(collect_threshold + 1).toPandas()
    if probe is not None and len(probe) <= collect_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(probe["src"].tolist(), probe["dst"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # attach the larger root under the smaller so the
                # final root IS the component min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        id_type = raw_plan.schema["src"].dataType
        schema = T.StructType(
            [
                T.StructField("id", id_type),
                T.StructField("component", id_type),
            ]
        )
        # Hand the driver-side result back as a pandas frame so the
        # session's Arrow path applies: createDataFrame on a plain
        # Python list parallelizes PICKLED rows over
        # defaultParallelism slices, and every downstream task then
        # launches a Python worker just to unpickle its slice —
        # measured at sf0.1 as a 32-task near-zero-CPU stage costing
        # whole seconds of wall (worker spawn latency, not data).
        # The Arrow path ships record batches the JVM reads directly.
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["id", "component"])
        return pairs.sparkSession.createDataFrame(pdf, schema)

    raw = raw_plan.localCheckpoint()
    if algorithm in ("star", "auto"):
        return _components_star(raw, max_iterations)
    edges = (
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    edges = edges.localCheckpoint()
    labels = labels.localCheckpoint()
    # NOTE on a rejected optimization: Pregel-style delta iteration
    # (join edges against only the labels that changed last round) was
    # implemented and MEASURED EXPONENTIAL here — feeding the
    # checkpointed frontier back into the next round's join triggers
    # pathological re-execution in Spark's localCheckpoint interplay
    # (a 30-node path graph went from 9 s to 348 s; per-round cost
    # doubled from round ~20 despite every plan print showing a flat
    # LogicalRDD). The full label re-join below is measured flat at
    # any round count, and real dedup graphs converge in 3-4 rounds
    # anyway; high-diameter graphs should use algorithm="star".
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"dedup_components did not converge in {max_iterations} iterations"
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node's strictly-larger neighbors reattach to
    the minimum of its closed neighborhood. One window-min shuffle on
    the symmetrized edge list + a distinct."""
    from pyspark.sql import Window

    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        sym.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient every edge high→low; each high node and its
    smaller neighbors all reattach to the smallest of them."""
    from pyspark.sql import Window

    hi_lo = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    with_m = hi_lo.withColumn(
        "m", F.min("dst").over(Window.partitionBy("src"))
    )
    return (
        with_m.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(with_m.select("src", F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _components_star(raw: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.
    2014): converges to a star forest — every node holds one edge to
    its component minimum — in O(log^2 n) rounds independent of graph
    diameter. Fixpoint test: the small-star output's (count,
    bit_xor-of-row-hashes) signature equals the previous round's
    (order-free set compare without a join; xor never overflows
    under ANSI mode)."""
    nodes = (
        raw.select(F.col("src").alias("id"))
        .unionByName(raw.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    edges = raw.where(F.col("src") != F.col("dst"))
    sig_prev = None
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        n, h = edges.agg(
            F.count(F.lit(1)), F.expr("bit_xor(xxhash64(src, dst))")
        ).first()
        if (n, h) == sig_prev:
            break
        sig_prev = (n, h)
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iterations} iterations"
        )
    # At the fixpoint every edge points node -> component min; roots
    # (the minima) have no outgoing edge and label themselves.
    return (
        nodes.join(edges, nodes["id"] == edges["src"], "left")
        .select("id", F.coalesce("dst", "id").alias("component"))
    )


def canonical_by_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_df: DataFrame | None = None,
    score_col: str = "quality_score",
    n: int = 3,
    threshold: float = 0.5,
    pair_method: str = "jaccard",
    **group_kwargs,
) -> DataFrame:
    """Quality-aware canonical selection: per near-duplicate cluster,
    keep the BEST-quality member instead of the min-id one — what a
    production curation pipeline actually wants ("of these 5 copies,
    keep the cleanest"), composed from ``near_dup_groups`` and a
    per-document score.

    ``score_df`` is any ``(id_col, score_col)`` frame; default is
    ``text_stats``'s composite ``quality_score``. Deterministic
    tie-break ``(score desc, id asc)``. Output: ``(id, component,
    score, is_canonical)`` for EVERY document — exactly one canonical
    per component.

    Plan shape: the grouping is ``near_dup_groups`` (banded pair
    generation, never all-pairs); scoring is one map-side projection;
    selection is a window partitioned BY COMPONENT (key-partitioned,
    never global) after one keyed join of two frames that both derive
    from the corpus scan.
    """
    from pyspark.sql import Window

    groups = near_dup_groups(
        df,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        pair_method=pair_method,
        **group_kwargs,
    ).select(id_col, "component")
    if score_df is None:
        from diseasystore_spark.pipeline.text import text_stats

        score_df = text_stats(df, id_col, text_col).select(
            F.col(id_col), F.col(score_col)
        )
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        groups.join(score_df, id_col)
        .withColumn("__rn", F.row_number().over(w))
        .select(
            F.col(id_col),
            "component",
            F.col(score_col).alias("score"),
            (F.col("__rn") == 1).alias("is_canonical"),
        )
    )


def contamination_spans(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    portable: bool = False,
    benchmark_keys: DataFrame | None = None,
) -> DataFrame:
    """Span-level contamination evidence: WHERE the benchmark overlap
    sits — ``(id, first_pos, n_hit_positions)`` for contaminated
    documents only, with ``first_pos`` the 0-based word index of the
    earliest overlapping n-gram. The input to span excision ("cut the
    leaked passage, keep the document") as opposed to the whole-doc
    drop q61/q72 decide.

    Positions require the NON-distinct gram stream (every occurrence
    counts), so this explodes with ``posexplode`` — the join still
    carries only 64-bit hashes and the benchmark side still
    broadcasts; the per-doc rollup is min + count."""
    if (benchmark is None) == (benchmark_keys is None):
        raise ValueError("pass exactly one of benchmark or benchmark_keys")
    bench_keys = (
        benchmark_keys
        if benchmark_keys is not None
        else benchmark_ngram_keys(benchmark, id_col, text_col, n, portable)
    )
    positioned = (
        spread(df)
        .select(
            F.col(id_col),
            F.posexplode(F.expr(ngrams_sql(text_col, n))).alias("__pos", "__g"),
        )
        .where(F.col("__g") != "")
        .selectExpr(id_col, "__pos", f"{gram_key(portable)}(__g) AS __k")
    )
    return (
        positioned.join(F.broadcast(bench_keys), "__k")
        .groupBy(id_col)
        .agg(
            F.min("__pos").cast("bigint").alias("first_pos"),
            F.count(F.lit(1)).cast("bigint").alias("n_hit_positions"),
        )
    )


def _exact_collapse(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared exact-duplicate pre-collapse for the graph pipelines.

    Returns ``(member, rep_docs, rep_info)``:

    - ``member``: (id_col, __rep) — every doc mapped to its exact
      group's representative (min id of identical-text docs);
    - ``rep_docs``: the input rows of the representatives only (the
      frame pair generation runs over), carrying the group size as
      ``__m`` so pair generation can weight shingle document
      frequency back to full-corpus counts;
    - ``rep_info``: (__rep, __m) — group size. Whether a group still
      carries intra-group Jaccard-1 edges is decided POST hot-shingle
      filtering from ``_jaccard_pairs_sized``'s survival frame (empty
      or fully-filtered contents produce NO pairs, so their groups
      must not get implicit jaccard-1 intra-group edges).

    Collapsing before pair generation removes the dominant quadratic
    hotspot of the shingle self-join: a group of e identical docs
    otherwise contributes e×-fan-out against every neighbor plus
    e(e-1)/2 trivial pairs carrying zero information. Identical docs
    have Jaccard exactly 1 with each other and identical similarity
    to everything else, so every full-corpus pair quantity can be
    recovered from the representative graph plus group sizes — the
    expansions below are exactness-preserving, not approximations.
    """
    digests = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
    # Carry the text through the digest groupBy (every value in a
    # group is identical, so any_value is deterministic here): the
    # representative frame falls out of the same shuffle instead of a
    # second semi-join pass over the corpus.
    groups = (
        df.select(F.col(id_col), F.col(text_col), F.md5(text_col).alias("__h"))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("__rep"),
            F.count(F.lit(1)).alias("__m"),
            F.any_value(F.col(text_col)).alias("__txt"),
        )
        .localCheckpoint()
    )
    member = digests.join(groups.select("__h", "__rep"), "__h").select(
        F.col(id_col), "__rep"
    )
    rep_docs = groups.select(
        F.col("__rep").alias(id_col), F.col("__txt").alias(text_col), "__m"
    )
    rep_info = groups.select("__rep", "__m")
    return member, rep_docs, rep_info


def dedup_components_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    collect_threshold: int = 2_000_000,
    algorithm: str = "label",
) -> DataFrame:
    """Connected components over the FULL n-gram-Jaccard pair list of
    a corpus, computed via exact-duplicate pre-collapse — the
    scale-safe entry path for ``jaccard_pairs -> dedup_components``
    compositions (the unguarded full-corpus form is quadratic in the
    hottest exact-duplicate group; see ``near_dup_groups``).

    Output is IDENTICAL to
    ``dedup_components(jaccard_pairs(df, ...))`` for ALL parameters,
    ``max_df`` included: ``(id, component)`` for exactly the docs
    that appear in >= 1 full-corpus pair — a doc qualifies iff its
    representative has a rep-level pair, OR its exact group has >= 2
    members with >= 1 shingle SURVIVING the hot-shingle filter (the
    twins pair with each other at Jaccard 1; a group whose shingles
    are all dropped by ``max_df`` produces no pairs at all, matching
    the full-corpus form). Shingle document frequency is weighted by
    exact-group size (``__m``) so ``max_df`` counts the same
    full-corpus DF the un-collapsed form sees. Component labels
    agree because each group's rep IS its min id, so the min id of a
    merged cluster equals the min rep id of its rep-component.
    """
    member, rep_docs, rep_info = _exact_collapse(df, id_col, text_col)
    pairs, surv = _jaccard_pairs_sized(
        rep_docs,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        max_df=max_df,
        df_weight_col="__m",
    )
    comps = dedup_components(
        pairs, collect_threshold=collect_threshold, algorithm=algorithm
    ).select(F.col("id").alias("__cid"), F.col("component").alias("__comp"))
    intra = threshold <= 1.0  # twins pair iff Jaccard 1 clears the bar
    has = surv.select(F.col(id_col).alias("__rep"), F.lit(True).alias("__has"))
    return (
        member.join(rep_info, "__rep")
        .join(has, "__rep", "left")
        .join(comps, member["__rep"] == comps["__cid"], "left")
        .where(
            F.col("__cid").isNotNull()
            | (
                (F.col("__m") >= 2)
                & F.coalesce(F.col("__has"), F.lit(False))
                & F.lit(intra)
            )
        )
        .select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col("__comp"), F.col("__rep")).alias("component"),
        )
    )


def triangle_counts_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Per-document triangle counts over the FULL n-gram-Jaccard
    near-dup graph, computed on the exact-collapsed representative
    graph — identical output to
    ``triangle_counts(jaccard_pairs(df, ...))`` for ALL parameters
    (``max_df`` DF is __m-weighted back to full-corpus counts, and
    fully-filtered groups drop out of the clique arithmetic) without
    ever materializing the full pair list (which is quadratic in
    exact-dup group size: a group of e identical docs is an e-clique).

    Exactness: every doc in an exact group of size m with shingled
    content is adjacent to its m-1 twins (Jaccard 1) and to every
    member of each rep-adjacent group. For a doc u in group r, the
    triangles at u partition by where the other two corners live::

        C(m_r - 1, 2)                      both corners are twins
        (m_r - 1) * sum_{s~r} m_s          one twin, one neighbor doc
        sum_{s~r} C(m_s, 2)                two docs of one adj group
        sum_{triangles {r,s,t}} m_s * m_t  two distinct adj groups
                                           that are also adjacent

    All terms are integer arithmetic over the rep graph: the first
    three from one degree-style neighbor aggregation, the last from
    the shared degree-oriented triangle enumeration with group-size
    weights at the two non-corner vertices. Groups with empty
    contents have no edges at all and are excluded; all counts are
    per-group constants expanded back to members at the end.
    """
    member, rep_docs, rep_info = _exact_collapse(df, id_col, text_col)
    pairs, surv = _jaccard_pairs_sized(
        rep_docs,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        max_df=max_df,
        df_weight_col="__m",
    )
    # Checkpoint the rep-level edge list: the shingle-join pair plan
    # feeds five downstream branches (sym union, neighbor aggregates,
    # both oriented sides, the closing join) and would re-execute per
    # branch otherwise. Pair lists are edge-count-sized — far smaller
    # than the corpus.
    e = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).localCheckpoint()
    # Groups participating in edges: >= 1 shingle surviving the
    # hot-shingle filter (post-max_df — a fully-filtered group has no
    # intra-group edges in the full-corpus form either).
    # Group-size frame: consumed FOUR times (both endpoint attaches of
    # the weighted edge list, the neighbor aggregate, the per-rep
    # close) — each copy re-runs the survival aggregation over the
    # shingle index without this checkpoint. Rep-count-sized (tiny).
    sizes = rep_info.join(
        surv.select(F.col(id_col).alias("__rep")), "__rep"
    ).select(
        F.col("__rep").alias("node"), F.col("__m").alias("m")
    ).localCheckpoint()

    # Neighbor aggregates over the symmetrized rep edges:
    #   nb_m  = sum of neighbor group sizes, nb_c2 = sum of C(m_s, 2)
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nbr = (
        sym.join(
            sizes.select(F.col("node").alias("b"), F.col("m").alias("mb")),
            "b",
        )
        .groupBy("a")
        .agg(
            F.sum("mb").cast("bigint").alias("nb_m"),
            F.sum(
                F.expr("(mb * (mb - 1)) DIV 2").cast("bigint")
            ).alias("nb_c2"),
        )
        .withColumnRenamed("a", "node")
    )

    # Weighted rep-graph triangles: triangle (lo, v, w) contributes
    # m_v*m_w to lo, m_lo*m_w to v, m_lo*m_v to w. Group sizes ride
    # through the wedge enumeration inside the edge structs (two
    # joins on the EDGE list, which is smaller than the triangle
    # list for the near-clique graphs this serves) instead of three
    # post-joins on tri.
    e_m = e.join(
        sizes.select(F.col("node").alias("a"), F.col("m").alias("__ma")),
        "a",
    ).join(
        sizes.select(F.col("node").alias("b"), F.col("m").alias("__mb")),
        "b",
    )
    with_m = _oriented_triangles(e_m, a_payload="__ma", b_payload="__mb")
    with_m = with_m.select(
        "lo",
        "v",
        "w",
        F.col("lo_p").alias("ml"),
        F.col("v_p").alias("mv"),
        F.col("w_p").alias("mw"),
    )
    wtri = (
        with_m.select(
            F.col("lo").alias("node"),
            (F.col("mv") * F.col("mw")).cast("bigint").alias("t4"),
        )
        .unionAll(
            with_m.select(
                F.col("v").alias("node"),
                (F.col("ml") * F.col("mw")).cast("bigint").alias("t4"),
            )
        )
        .unionAll(
            with_m.select(
                F.col("w").alias("node"),
                (F.col("ml") * F.col("mv")).cast("bigint").alias("t4"),
            )
        )
        .groupBy("node")
        .agg(F.sum("t4").cast("bigint").alias("t4"))
    )

    intra = 1 if threshold <= 1.0 else 0  # twins adjacent iff 1 >= thr
    per_rep = (
        sizes.join(nbr, "node", "left")
        .join(wtri, "node", "left")
        .select(
            "node",
            (
                F.lit(intra)
                * F.expr("((m - 1) * (m - 2)) DIV 2").cast("bigint")
                + F.lit(intra)
                * (F.col("m") - 1)
                * F.coalesce(F.col("nb_m"), F.lit(0))
                + F.lit(intra) * F.coalesce(F.col("nb_c2"), F.lit(0))
                + F.coalesce(F.col("t4"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_triangles"),
        )
        .where(F.col("n_triangles") >= 1)
    )
    return member.join(
        per_rep, member["__rep"] == per_rep["node"]
    ).select(F.col(id_col).alias("node"), "n_triangles")


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list (the
    near-dup graph's local clustering signal: a doc in many triangles
    sits inside a dense duplicate clique, not a chance pairing).

    Implements the degree-oriented (Cohen / "low-hinge") formulation,
    public: orient every edge from the endpoint with the smaller
    ``(degree, id)`` to the larger; enumerate wedges only at each
    edge's LOW endpoint; close them against the oriented edge set.
    Every triangle is found exactly once at its minimum-key corner,
    and per-node wedge work is bounded by the smaller endpoint's
    degree — the skew guard that keeps a celebrity node from
    generating O(deg²) wedges. Shuffles: the degree count, two
    degree-attach joins, the wedge self-join on the low endpoint,
    the closing-edge join, and the final corner count — all
    equi-keyed, no cartesian anywhere.

    Output: ``(node, n_triangles)`` for every node in >= 1 triangle.

    The edge list is ``localCheckpoint``ed on entry: the enumeration
    consumes it from several branches (degree count, both oriented
    sides, the closing join), and when ``edges`` is an expensive plan
    (a jaccard/minhash pair generator) each branch would otherwise
    re-execute it.
    """
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()
    tri = _oriented_triangles(e)
    corners = (
        tri.select(F.col("lo").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def _oriented_triangles(
    e: DataFrame,
    a_payload: str | None = None,
    b_payload: str | None = None,
) -> DataFrame:
    """Each undirected triangle of edge list ``(a, b)`` exactly once,
    as ``(lo, v, w)`` — the degree-oriented wedge enumeration shared
    by ``triangle_counts`` and the collapsed-graph weighted variant.

    ``a_payload``/``b_payload`` (both or neither): per-ENDPOINT
    payload columns of ``e`` to ride through the enumeration; the
    output gains ``(lo_p, v_p, w_p)`` — cheaper than joining payloads
    onto the triangle list afterwards when triangles outnumber edges
    (near-clique graphs)."""
    with_payload = a_payload is not None
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        e.join(deg.withColumnsRenamed({"n": "a", "d": "da"}), "a")
        .join(deg.withColumnsRenamed({"n": "b", "d": "db"}), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    cols = [
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.struct("db", "b")).otherwise(
            F.struct(F.col("da").alias("db"), F.col("a").alias("b"))
        ).alias("hik"),
    ]
    if with_payload:
        cols += [
            F.when(a_first, F.col(a_payload))
            .otherwise(F.col(b_payload))
            .alias("lo_p"),
            F.when(a_first, F.col(b_payload))
            .otherwise(F.col(a_payload))
            .alias("hi_p"),
        ]
    # Materialize the oriented edge list: it feeds THREE consumers
    # (both wedge sides and the closing join), and each copy would
    # otherwise re-run the degree aggregation and both degree-attach
    # joins — worse, when ``e`` itself carries attached payload
    # subtrees (the weighted collapsed-graph variant joins group
    # sizes onto both endpoints), the duplication multiplies through
    # every branch (measured: q82's physical plan held 327 Exchange
    # nodes / 279 broadcasts before this + the sizes checkpoint,
    # 19 / 3 after; the checkpointed frame is edge-count-sized,
    # linear — OPTIMIZATION_r11.md).
    oriented = keyed.select(*cols).localCheckpoint()
    o1 = oriented.select(
        "lo",
        F.col("hi").alias("v"),
        F.col("hik").alias("vk"),
        *([F.col("lo_p"), F.col("hi_p").alias("v_p")] if with_payload else []),
    )
    o2 = oriented.select(
        "lo",
        F.col("hi").alias("w"),
        F.col("hik").alias("wk"),
        *([F.col("hi_p").alias("w_p")] if with_payload else []),
    )
    wedges = o1.join(o2, "lo").where(
        (F.col("vk.db") < F.col("wk.db"))
        | ((F.col("vk.db") == F.col("wk.db")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("lo").alias("v"), F.col("hi").alias("w")
    )
    out_cols = ["lo", "v", "w"] + (
        ["lo_p", "v_p", "w_p"] if with_payload else []
    )
    return wedges.join(closing, ["v", "w"]).select(*out_cols)


def adamic_adar_links(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction on the near-dup graph (Adamic-Adar, public):
    score every NON-adjacent pair sharing >= 1 common neighbor by
    ``sum_z 1/ln(deg(z))`` — high scorers are duplicate pairs the
    pair generator likely missed (two docs each similar to the same
    third). Scores are integer-micro (``round(1e6/ln(d))`` per
    neighbor, summed as bigints) so the q83 oracle is hash-exact.

    A common neighbor has degree >= 2 by construction, so ``ln`` is
    never zero. ``max_degree`` drops hub intermediates before the
    wedge join (a degree-d node emits d*(d-1)/2 candidate pairs —
    same quadratic hotspot as ``max_df`` in the shingle join; at
    scale cap it, since a hub's 1/ln(d) evidence is weakest anyway).

    Output: (id_a, id_b, common_neighbors, score_micro), id_a < id_b.
    """
    # Checkpoint after the normalization: the edge list feeds the
    # symmetrized union (twice), the degree count, and the final
    # anti-join — an expensive upstream pair generator would
    # re-execute per consumer otherwise.
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    ).distinct().localCheckpoint()
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("z")).agg(
        F.count(F.lit(1)).alias("d")
    )
    if max_degree is not None:
        deg = deg.where(F.col("d") <= max_degree)
    # Degree-1 intermediates can't form a wedge — and their ln(1)=0
    # would trip ANSI division. Drop them before computing weights.
    mid = (
        sym.select(F.col("a").alias("z"), F.col("b").alias("n"))
        .join(deg.where(F.col("d") >= 2), "z")
        .withColumn(
            "w",
            F.round(
                F.lit(1e6) / F.log(F.col("d").cast("double"))
            ).cast("bigint"),
        )
    )
    left = mid.select("z", F.col("n").alias("n1"), "w")
    right = mid.select("z", F.col("n").alias("n2"))
    wedges = left.join(right, "z").where(F.col("n1") < F.col("n2"))
    cand = wedges.join(
        e.withColumnsRenamed({"a": "n1", "b": "n2"}),
        ["n1", "n2"],
        "left_anti",
    )
    return cand.groupBy("n1", "n2").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
        F.sum("w").cast("bigint").alias("score_micro"),
    ).select(
        F.col("n1").alias("id_a"),
        F.col("n2").alias("id_b"),
        "common_neighbors",
        "score_micro",
    )


def verify_pairs_edit_similarity(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_similarity: float = 0.8,
    max_len: int | None = 20_000,
) -> DataFrame:
    """Exact verification stage for candidate near-dup pairs — the
    second half of the standard candidate->verify dedup pipeline
    (generate cheap candidates with MinHash/SimHash banding, then
    CONFIRM each with a real string metric before acting on it).

    Scores every candidate pair with normalized Levenshtein
    similarity ``1 - dist/max(len_a, len_b)`` (integer-micro, so the
    q92 oracle is hash-exact) and keeps pairs at or above
    ``min_similarity``. Output: (id_a, id_b, len_a, len_b,
    edit_sim_micro), id order preserved from the candidate list.

    Scale shape: work is CANDIDATE-list-sized, never corpus² — two
    equi-joins recover the texts, then a per-row JVM ``levenshtein``
    (no Python). Two guards bound the per-pair cost: the length-ratio
    prefilter (a pair whose length difference alone breaks
    ``min_similarity`` is dropped BEFORE computing the O(L²) distance
    — ``dist >= |len_a - len_b|`` always), and ``max_len`` truncates
    pathological documents (Spark's levenshtein also accepts a
    threshold bound, which we pass to cap the DP early).

    The texts join is the candidate list's shuffle twice over doc
    ids; at production scale feed it the DISTINCT-content pair list
    from the exact-collapse path so each text pair is verified once.
    """
    t = df.select(F.col(id_col), F.col(text_col).alias("__txt"))
    if max_len is not None:
        t = t.select(
            id_col, F.substring("__txt", 1, max_len).alias("__txt")
        )
    a = t.select(
        F.col(id_col).alias("id_a"), F.col("__txt").alias("__ta")
    )
    b = t.select(
        F.col(id_col).alias("id_b"), F.col("__txt").alias("__tb")
    )
    cand = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.length("__ta").alias("len_a"),
            F.length("__tb").alias("len_b"),
            "__ta",
            "__tb",
        )
    )
    max_len_col = F.greatest("len_a", "len_b")
    # Length prefilter: dist >= |len_a - len_b|, so similarity can
    # reach the bar only if the length gap is small enough. The
    # max_len > 0 guard drops zero-length-vs-zero-length pairs (a
    # shingle-based candidate generator never emits them; the
    # similarity ratio is undefined there).
    feasible = cand.where(
        (max_len_col > 0)
        & (
            (max_len_col - F.abs(F.col("len_a") - F.col("len_b")))
            >= F.ceil(F.lit(min_similarity) * max_len_col)
        )
    )
    # Threshold-bounded levenshtein: pairs beyond the implied max
    # distance return -1 (capped DP), mapped to "below bar".
    bound = (
        max_len_col - F.ceil(F.lit(min_similarity) * max_len_col) + 1
    ).cast("int")
    dist = F.expr("levenshtein(__ta, __tb, __bound)")
    scored = (
        feasible.withColumn("__bound", bound)
        .withColumn("__d", dist)
        .where(F.col("__d") >= 0)
        .select(
            "id_a",
            "id_b",
            F.col("len_a").cast("bigint").alias("len_a"),
            F.col("len_b").cast("bigint").alias("len_b"),
            F.round(
                (
                    F.lit(1.0)
                    - F.col("__d")
                    / F.greatest("len_a", "len_b").cast("double")
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("edit_sim_micro"),
        )
    )
    return scored.where(
        F.col("edit_sim_micro")
        >= F.round(F.lit(min_similarity) * 1_000_000).cast("bigint")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Self-corpus duplicate-substring spans (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better"
    operator): a word position is duplicate-covered when its n-gram
    occurs at least ``min_count`` times ACROSS THE CORPUS (any
    document, including repeats inside the same document); runs of
    covered start positions no more than ``n`` apart — i.e. whose
    n-gram windows overlap or touch — merge into maximal spans. This
    is span-level SELF-dedup (cut the repeated passage, keep the
    document), where ``contamination_spans`` locates overlap against
    an external benchmark and q19/q23 decide whole-document fates.

    Output: ``(id, span_start, span_end, n_dup_grams)`` — word
    indices, ``span_end`` inclusive of the last covered gram's last
    word (``last_start + n - 1``).

    Scale shape: gram occurrence counts are one map-side-combinable
    groupBy over 64-bit keys (never gram text); covered positions
    come back from an equi join against the ``count >= min_count``
    survivors (vocabulary-sized frame, keyed shuffle — at web scale
    the hot survivors are exactly the duplicated passages being
    hunted, so the join key distribution is the document duplication
    profile itself); span merging is a per-document lag window —
    partitioned, never global. No pair join anywhere: cost is linear
    in corpus token count.
    """
    positioned = (
        spread(df)
        .select(
            F.col(id_col),
            F.posexplode(F.expr(ngrams_sql(text_col, n))).alias("__pos", "__g"),
        )
        .selectExpr(id_col, "__pos", f"{gram_key(portable)}(__g) AS __k")
    )
    dup_keys = (
        positioned.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__ct"))
        .where(F.col("__ct") >= int(min_count))
        .select("__k")
    )
    covered = positioned.join(dup_keys, "__k").select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    islands = (
        covered.withColumn("__prev", F.lag("__pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__pos") - F.col("__prev") > n),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__grp",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        islands.groupBy(id_col, "__grp")
        .agg(
            F.min("__pos").cast("bigint").alias("span_start"),
            (F.max("__pos") + F.lit(n - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        )
        .drop("__grp")
    )


def excise_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
    spans: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """Span EXCISION — the apply step of ``duplicate_spans``: delete
    every word covered by a duplicate span and reassemble the
    document (cut the repeated passage, keep the document — the
    whole-corpus self-dedup treatment of Lee et al. 2021). Pass a
    precomputed/curated ``spans`` frame (``(id, span_start,
    span_end, ...)``) to decouple detection from excision; by default
    the spans are computed here with the same parameters.

    Output: ``(id, clean_text, n_removed)`` — every input document
    appears (span-free documents pass through verbatim, fully-covered
    documents come back as the empty string with everything counted
    removed).

    Scale shape: the per-document span list is a ``collect_list``
    bounded by the document's own span count (never corpus-sized),
    the excision itself is one row-local array lambda — tokenize,
    filter by span membership, reassemble — so the apply step adds a
    single keyed join to the detection cost."""
    if spans is None:
        spans = duplicate_spans(df, id_col, text_col, n, min_count, portable)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans")
    )
    toks = df.select(
        F.col(id_col),
        F.expr(tokens_sql(text_col)).alias("__w"),
    )
    joined = toks.join(per_doc, id_col, "left")
    kept = F.expr(
        "CASE WHEN __spans IS NULL THEN __w "
        "ELSE filter(__w, (t, i) -> "
        "NOT exists(__spans, s -> i >= s.s AND i <= s.e)) END"
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("__w") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def cross_source_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    **minhash_kwargs,
) -> DataFrame:
    """Cross-source contamination matrix: how many near-duplicate
    pairs link each (source, source) combination — the first report a
    pretraining-data audit produces (is the crawl duplicating the
    curated set? which feeds overlap?).

    Pairs come from ``minhash_lsh_pairs`` (kwargs forwarded, so the
    portable/oracle mode and skew caps apply unchanged); each pair is
    attributed to the UNORDERED source combination (source_a <=
    source_b lexicographically). ``sum_sig_matches`` accumulates
    est_jaccard x num_hashes — an exact integer (matching signature
    positions), so the per-cell mean similarity
    ``sum_sig_matches / (num_hashes * n_pairs)`` can be derived
    without any float summation.

    Output: ``(source_a, source_b, n_pairs bigint, sum_sig_matches
    bigint)``.

    Scale shape: the id -> source map is a projection of the corpus
    joined twice on the pair ids (equi shuffle joins keyed by doc id
    — pair volume is LSH-bounded, never quadratic), then one
    combinable groupBy over at most |sources|² cells.
    """
    num_hashes = minhash_kwargs.get("num_hashes", 16)
    pairs = minhash_lsh_pairs(
        df, id_col=id_col, text_col=text_col, **minhash_kwargs
    )
    src = df.select(
        F.col(id_col).alias("__sid"), F.col(source_col).alias("__src")
    )
    tagged = (
        pairs.join(src, pairs["id_a"] == F.col("__sid"))
        .select(
            "id_b",
            F.col("__src").alias("__src_a"),
            "est_jaccard",
        )
        .join(
            src.withColumnRenamed("__src", "__src_b"),
            F.col("id_b") == F.col("__sid"),
        )
        .select(
            F.least("__src_a", "__src_b").alias("source_a"),
            F.greatest("__src_a", "__src_b").alias("source_b"),
            F.round(F.col("est_jaccard") * num_hashes)
            .cast("bigint")
            .alias("__matches"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("__matches").cast("bigint").alias("sum_sig_matches"),
    )


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_sources_per_gram: int | None = 64,
    density_guard: str = "raise",
) -> DataFrame:
    """Cross-source contamination matrix: for every unordered pair of
    corpus slices (``group_col`` values), the number of DISTINCT word
    ``n``-grams they share, each slice's distinct-gram total, and the
    Jaccard overlap — the corpus-health scan that catches a crawl
    slice re-ingesting another slice (or a benchmark split bleeding
    into training sources) before any pairwise document work is
    spent. The per-document sibling is ``ngram_decontaminate``
    (corpus vs one benchmark set); this is slice × slice.

    Scale shape — never documents²: distinct (source, gram) pairs
    (one combinable distinct shuffle on the gram key), then the
    per-gram source LIST is paired within itself — fan-out bounded by
    (sources-per-gram choose 2), with sources a small set by
    construction. ``max_sources_per_gram`` drops grams present in
    more than that many slices (a gram shared by every slice — stop
    phrases, boilerplate — contributes |S|² pairs and no contamination
    signal; the cap is the ``max_df`` skew guard of the Jaccard
    operators, fail-safe because such grams only ever ADD noise).
    Totals join back on the slice key (broadcast-sized frame).

    Output: ``(source_a, source_b, n_shared bigint, n_a bigint,
    n_b bigint, jaccard double)`` with ``source_a < source_b``.

    ``density_guard`` (default ``"raise"``, VERDICT r10 item 5): a
    BLIND call — ``max_sources_per_gram=None`` — carries a LAZY
    in-plan probe of the exact pair fan-out (``sum over grams of
    C(n_sources, 2)``, a broadcast 1-row subtree over the same
    distinct-gram frame; zero jobs at construction) that raises at
    first action past ``DENSE_JACCARD_CANDIDATES`` with routing
    advice (the cap, or :func:`source_overlap_minhash`). ``"warn"``
    downgrades to an EAGER construction-time warning (warnings
    cannot be emitted from executors); ``"off"`` disables. Capped
    calls — the default — never probe.
    """
    if n < 1:
        raise ValueError("n must be at least 1")
    if density_guard not in ("off", "warn", "raise"):
        raise ValueError("density_guard must be 'off', 'warn' or 'raise'")
    grams = (
        df.where(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("__s"),
            F.expr(f"explode({ngrams_sql(text_col, n)}) AS __g"),
        )
        .distinct()
    )
    if density_guard != "off" and max_sources_per_gram is None:
        # count-per-gram (not collect_set) keeps the probe a plain
        # map-side-combinable aggregate; grams is already distinct
        # (source, gram) so the count IS the gram's source count
        est_frame = (
            grams.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__k"))
            .agg(
                F.coalesce(
                    F.sum(F.col("__k") * (F.col("__k") - 1) / 2), F.lit(0)
                )
                .cast("bigint")
                .alias("est")
            )
        )
        advice = (
            "; bound the fan-out with max_sources_per_gram (grams "
            "shared by every slice are boilerplate, not signal), "
            "route through source_overlap_minhash (fixed-size "
            "signatures), or pass density_guard='off' to force the "
            "exact form."
        )
        if density_guard == "warn":
            est = int(est_frame.collect()[0]["est"] or 0)
            if est > DENSE_JACCARD_CANDIDATES:
                warnings.warn(
                    f"source_overlap_matrix: estimated gram-pair "
                    f"fan-out {est:,} exceeds "
                    f"{DENSE_JACCARD_CANDIDATES:,}" + advice,
                    stacklevel=2,
                )
        else:
            guard = est_frame.select(
                F.when(
                    F.col("est") > F.lit(DENSE_JACCARD_CANDIDATES),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "source_overlap_matrix: estimated "
                                "gram-pair fan-out "
                            ),
                            F.col("est").cast("string"),
                            F.lit(
                                f" exceeds {DENSE_JACCARD_CANDIDATES:,}"
                                + advice
                            ),
                        )
                    ).cast("boolean"),
                )
                .otherwise(F.lit(True))
                .alias("__dg_ok")
            )
            grams = (
                grams.crossJoin(F.broadcast(guard))
                .where(F.col("__dg_ok"))
                .drop("__dg_ok")
            )
    per_gram = grams.groupBy("__g").agg(
        F.sort_array(F.collect_set("__s")).alias("__ss")
    )
    if max_sources_per_gram is not None:
        per_gram = per_gram.where(F.size("__ss") <= max_sources_per_gram)
    pairs = (
        per_gram.where(F.size("__ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__ss, (a, i) -> "
                    "transform(slice(__ss, i + 2, size(__ss)), "
                    "b -> struct(a AS sa, b AS sb))))"
                )
            ).alias("__p")
        )
        .groupBy(
            F.col("__p.sa").alias("source_a"),
            F.col("__p.sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    totals = grams.groupBy("__s").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    return (
        pairs.join(
            F.broadcast(totals.withColumnRenamed("__s", "source_a")),
            "source_a",
        )
        .withColumnRenamed("__n", "n_a")
        .join(
            F.broadcast(totals.withColumnRenamed("__s", "source_b")),
            "source_b",
        )
        .withColumnRenamed("__n", "n_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def source_overlap_minhash(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash estimate of the cross-source contamination matrix —
    the SCALE path of :func:`source_overlap_matrix`: the exact form's
    distinct-gram inverted index grows with the corpus' distinct-gram
    count (measured 4.15× at 10× data), which at web-corpus scale
    dominates. Here each source gets ONE ``num_hashes``-component
    MinHash signature over its gram multiset and the pairwise Jaccard
    is estimated as the component match fraction — the standard
    MinHash identity (Broder 1997): ``P[min h(A) = min h(B)] =
    J(A, B)`` per independent hash.

    Scale shape — strictly better than the exact form everywhere:

    - NO distinct: a set's min is the multiset's min, so the
      dedup shuffle the exact form pays disappears;
    - NO inverted index: one md5 per gram OCCURRENCE (the
      Kirsch-Mitzenmacher double-hash family of
      :func:`minhash_signatures` — ``(a + i·b) mod (2³¹−1)`` per
      seed, pure integer arithmetic any engine replays exactly),
      then ONE map-side-combinable groupBy(source) computing the
      ``num_hashes`` mins as plain agg expressions — corpus-linear
      map work, |sources|-sized shuffle;
    - pairing runs on the |sources| × (num_hashes+1) signature frame
      (broadcast-sized by construction).

    Estimator error is ``~1/sqrt(num_hashes)`` per pair (±12.5% at
    64); the exact operator remains the right tool when slices are
    few and precision matters — this one is for MANY slices over a
    corpus too large to index.

    Output: ``(source_a, source_b, n_matches int, num_hashes int,
    jaccard_est double)`` with ``source_a < source_b``.
    """
    if n < 1:
        raise ValueError("n must be at least 1")
    if num_hashes < 1:
        raise ValueError("num_hashes must be at least 1")
    p = _PORTABLE_P
    grams = (
        df.where(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("__s"),
            F.expr(f"explode({ngrams_sql(text_col, n, drop_empty=True)}) AS __g"),
        )
    )
    ab = grams.select(
        "__s",
        F.expr(
            f"cast(conv(substr(md5(__g), 1, 8), 16, 10) as bigint) % {p}"
        ).alias("__a"),
        F.expr(
            f"cast(conv(substr(md5(__g), 9, 8), 16, 10) as bigint) % {p}"
        ).alias("__b"),
    )
    sigs = ab.groupBy("__s").agg(
        *[
            F.min((F.col("__a") + F.lit(i) * F.col("__b")) % F.lit(p))
            .alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )
    left = sigs.select(
        F.col("__s").alias("source_a"),
        *[F.col(f"__h{i}").alias(f"__l{i}") for i in range(num_hashes)],
    )
    right = sigs.select(
        F.col("__s").alias("source_b"),
        *[F.col(f"__h{i}").alias(f"__r{i}") for i in range(num_hashes)],
    )
    matches = None
    for i in range(num_hashes):
        term = (F.col(f"__l{i}") == F.col(f"__r{i}")).cast("int")
        matches = term if matches is None else matches + term
    return (
        left.join(
            F.broadcast(right), F.col("source_a") < F.col("source_b")
        )
        .select(
            "source_a",
            "source_b",
            matches.cast("int").alias("n_matches"),
            F.lit(num_hashes).cast("int").alias("num_hashes"),
            (matches.cast("double") / F.lit(float(num_hashes))).alias(
                "jaccard_est"
            ),
        )
    )
