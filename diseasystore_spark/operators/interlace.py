"""Interval interlace — the engine's core temporal-alignment operator.

``interlace(tables, by)`` performs a full temporal alignment of N
feature tables per key: each key's timeline is split at every
``valid_from`` / ``valid_until`` breakpoint across all tables, and one
row is emitted per (key, sub-interval) carrying every table's payload
valid in that sub-interval (NULL where a table has no valid row).

``truncate_interlace(primary, secondary)`` first clips each secondary
table to the validity of the primary (equi-join on shared ``key_*``
columns + interval-overlap residual + CASE-WHEN clamp), then
interlaces the clipped tables. Parity target:
``R/truncate_interlace.R:80-120`` and the behavioral contract of
``SCDB::interlace`` exercised by
``tests/testthat/test-truncate_interlace.R:86-154``.

Spark-first design (scales to 100 TB):

- The breakpoint spine is a union + distinct (one shuffle on the key),
  and intervals come from a ``lead`` window over the same partitioning
  — the shuffle is reused, no extra exchange. On the bucketed scale
  path the ``lead`` runs within (key, bucket) partitions — a hot key's
  breakpoints never sort in one task — and each bucket's last
  breakpoint is closed by the next non-empty bucket's minimum via a
  one-row-per-(key, bucket) boundary frame.
- Each table joins back to the spine with an equi condition on the
  keys plus a range residual — Catalyst executes this as a sort-merge
  join on the equi keys; the range predicate is evaluated as a cheap
  residual filter, never a cartesian product.
- Everything is built-in Column expressions: whole-stage codegen, no
  Python boundary.

NULL-semantics parity notes (these are load-bearing — the reference
fixtures depend on them):

- The interval spine always ends in a trailing open interval
  ``(max_breakpoint, NULL)`` per key, because ``lead`` of the last
  breakpoint is NULL. The reference behaves identically (NULL
  ``valid_until`` values become "timestamps" whose ``lead`` pairing
  yields the same trailing interval).
- In the truncation clamp, a NULL on either side of the comparison
  selects the *secondary's* bound (SQL CASE three-valued logic, see
  ``case_min``/``case_max``) — so a bounded primary clipped against an
  open-ended secondary yields an *open-ended* row. The conformance
  tester asserts exactly this (``test-truncate_interlace.R:97-101``).
- Primary rows with no secondary match survive the overlap filter only
  when the primary interval is open-ended, and then carry NULL
  validity — contributing no breakpoints and matching no interval,
  i.e. they vanish from the interlaced output, as in the reference.

One documented divergence: the reference hands ``SCDB::interlace``
only the *first* primary key (``R/truncate_interlace.R:117``);we align
on *all* shared primary keys, which is the semantically correct
grouping for multi-key stores and identical for single-key stores.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from diseasystore_spark.contract import key_columns
from diseasystore_spark.functions.intervals import case_max, case_min
from diseasystore_spark.trace import note

VALIDITY = ("valid_from", "valid_until")

_EPOCH = datetime.date(1970, 1, 1)


def _bucket_of(col: F.Column | str, width_days: int) -> F.Column:
    """Fixed-width date bucket id (floor toward -inf, so pre-1970
    dates bucket correctly)."""
    return F.floor(F.datediff(col, F.lit(_EPOCH)) / width_days).cast("int")


#: target candidate PAIRS per (key, bucket) group for the auto path.
#: The containment join's residual scan inside one group costs
#: ~(density * W)^2 comparisons (spine breakpoints x table rows, both
#: ~density * W), so the width is sized to sqrt(target) / density:
#: total work across buckets is then ~n * sqrt(target) — linear in the
#: data — while each group stays far below sort-merge buffering
#: pressure. Large enough that replication + per-group overhead is
#: negligible, small enough that no group degenerates quadratically
#: (measured: a 4096-ROW target left 16M-comparison groups and ran
#: 1.3-1.7x slower than a hand-tuned width on the single-key stress).
AUTO_TARGET_PAIRS_PER_BUCKET = 4096


def width_from_stats(
    n: int,
    k: int,
    span_days: int,
    avg_span: float,
    auto_threshold: float = 2000.0,
) -> int | None:
    """The auto-bucketing decision as a pure function of table
    statistics (row count, distinct key tuples, date span in days,
    mean row validity span in days) — shared by the live probe
    (:func:`resolve_bucket_days`) and the engine's write-time stats
    path (``storage/scd2.py`` persists these numbers with every
    version, so ``key_join_features`` decides with ZERO extra jobs).
    The width and the statistics are noted on the open trace phase.
    """
    width = None
    if n and k and n / k >= auto_threshold:
        span = max(span_days, 1)
        density = n / (k * span)  # rows per key per day
        width = max(
            AUTO_TARGET_PAIRS_PER_BUCKET ** 0.5 / max(density, 1e-9),
            (avg_span or 0.0) / 4.0,
            1.0,
        )
        width = max(int(min(width, span)), 1)
    note(bucket_days=width, n=n, k=k, span_days=span_days)
    return width


def resolve_bucket_days(
    tables: list[DataFrame],
    by: list[str],
    auto_threshold: float = 2000.0,
) -> int | None:
    """Decide whether (and how wide) to bucket the interlace
    containment joins, from ONE cheap probe job over the unioned key
    projections: row count, ``approx_count_distinct`` of the key
    tuple, the date span, and the mean row validity span.

    Returns ``None`` (default sort-merge path) when the average rows
    per key is below ``auto_threshold`` — per-key join groups that
    small are handled fine by a plain sort-merge join, and bucketing
    would only add row replication. Above it, the width targets
    ``AUTO_TARGET_PAIRS_PER_BUCKET`` candidate pairs per (key,
    bucket) — i.e. width ~ sqrt(target) / (rows per key-day) — and is
    floored at a quarter of the mean row span so replication
    (span/width) stays bounded by ~4x.

    This is the scale guard for the engine's core temporal-alignment
    operator (reference ``R/truncate_interlace.R:104-120``): a typical
    epi feature table keys on a handful of regions, so at 100x data
    every key is a hot key and the unbucketed sort-merge join buffers
    an entire key group per task.
    """
    probe = None
    for t in tables:
        keys = [k for k in by if k in t.columns]
        # Hash the key tuple to one bigint: tables may carry different
        # key subsets, so a struct column would not union across them.
        kc = (
            F.xxhash64(*[F.col(k) for k in keys])
            if keys
            else F.lit(0).cast("bigint")
        )
        p = t.select(
            kc.alias("__k"),
            F.col("valid_from").alias("__vf"),
            F.col("valid_until").alias("__vu"),
        )
        probe = p if probe is None else probe.unionByName(p)
    if probe is None:
        return None
    row = probe.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("__k").alias("k"),
        F.min("__vf").alias("lo"),
        F.greatest(F.max("__vf"), F.max("__vu")).alias("hi"),
        F.avg(
            F.datediff(F.coalesce("__vu", "__vf"), "__vf")
        ).alias("avg_span"),
    ).first()
    if not row or not row["n"] or not row["k"]:
        return None
    if row["lo"] is None or row["hi"] is None:
        return None
    return width_from_stats(
        row["n"],
        row["k"],
        (row["hi"] - row["lo"]).days,
        row["avg_span"] or 0.0,
        auto_threshold,
    )


def interlace(
    tables: list[DataFrame],
    by: list[str] | str,
    bucket_days: int | str | None = "auto",
    auto_threshold: float = 2000.0,
) -> DataFrame:
    """Temporally align ``tables`` on key columns ``by``.

    Each table must have columns ``by + payload + (valid_from,
    valid_until)``. Payload columns appearing in more than one table
    are taken from the first table that has them (the reference never
    feeds colliding payloads — see module docstring).

    ``bucket_days`` enables the range-join bucketing scale path: the
    containment joins in step 3 are equi on keys plus a *range*
    residual, and when the key columns have few distinct values (one
    country, a handful of regions — typical for feature tables) a
    sort-merge join buffers every row of a hot key and evaluates the
    residual over the per-key cross product: O(rows_per_key *
    intervals_per_key). With ``bucket_days=W`` each table row is
    replicated to the W-day buckets its validity spans and each spine
    interval start lands in exactly one bucket, so the join becomes
    equi on ``(keys..., bucket)`` — candidate pairs only within one
    bucket, the standard bin-based range-join optimization (Flink
    interval joins / Databricks range-join hints). Replication factor
    is span/W; open-ended rows are capped at the global max breakpoint
    (no pair is lost: spine starts never exceed it). Output is
    identical to the default path — asserted by the test suite.

    ``bucket_days="auto"`` (the default) self-selects: one cheap probe
    job (:func:`resolve_bucket_days`) measures rows-per-key, and the
    bucketed path switches on only when the average key group exceeds
    ``auto_threshold`` rows — so low-cardinality stores get the scale
    path without a knob, and high-cardinality inputs skip the
    replication overhead entirely. ``None`` forces the plain
    sort-merge path; an int forces that bucket width.
    """
    if isinstance(by, str):
        by = [by]
    if len(tables) == 1:
        return tables[0]
    if not tables:
        raise ValueError("interlace requires at least one table")
    if bucket_days == "auto":
        bucket_days = resolve_bucket_days(tables, by, auto_threshold)
    elif bucket_days is not None and (
        not isinstance(bucket_days, int) or bucket_days < 1
    ):
        raise ValueError(
            f"bucket_days must be a positive int, 'auto', or None, "
            f"got {bucket_days!r}"
        )

    # 1. Breakpoint spine: distinct union of all validity endpoints per key.
    pieces = []
    for t in tables:
        pieces.append(t.select(*by, F.col("valid_from").alias("__ts")))
        pieces.append(
            t.where(F.col("valid_until").isNotNull()).select(
                *by, F.col("valid_until").alias("__ts")
            )
        )
    spine = pieces[0]
    for p in pieces[1:]:
        spine = spine.unionByName(p)
    spine = spine.where(F.col("__ts").isNotNull()).distinct()

    # 2. Consecutive breakpoints -> half-open sub-intervals. Plain
    #    path: the lead window reuses the hash partitioning of the
    #    distinct above. Bucketed path: a hot key would sort ALL its
    #    breakpoints in one window task, so lead runs within (key,
    #    bucket) partitions and each bucket's last breakpoint is paired
    #    with the next non-empty bucket's minimum — the boundary frame
    #    is one row per (key, bucket), so its per-key window is over
    #    #buckets rows, not #breakpoints.
    if bucket_days:
        spine_b = spine.withColumn("__bktl", _bucket_of("__ts", bucket_days))
        w_local = Window.partitionBy(*by, "__bktl").orderBy("__ts")
        w_bkt = Window.partitionBy(*by).orderBy("__bktl")
        nxt = (
            spine_b.groupBy(*by, "__bktl")
            .agg(F.min("__ts").alias("__bmin"))
            .select(
                *by,
                "__bktl",
                F.lead("__bmin").over(w_bkt).alias("__next_min"),
            )
            .select(
                *[F.col(k).alias(f"__nk_{k}") for k in by],
                F.col("__bktl").alias("__nb"),
                "__next_min",
            )
        )
        left = spine_b.withColumn("__lead", F.lead("__ts").over(w_local))
        bcond = left["__bktl"] == nxt["__nb"]
        for k in by:  # NULL key values are legal partition values
            bcond = bcond & left[k].eqNullSafe(nxt[f"__nk_{k}"])
        intervals = left.join(nxt, bcond, "left").select(
            *[left[k] for k in by],
            "__bktl",
            F.col("__ts").alias("valid_from"),
            F.coalesce("__lead", "__next_min").alias("valid_until"),
        )
    else:
        w = Window.partitionBy(*by).orderBy("__ts")
        intervals = spine.select(
            *by,
            F.col("__ts").alias("valid_from"),
            F.lead("__ts").over(w).alias("valid_until"),
        )

    # 3. Join each table's payload onto the containing sub-intervals.
    #    Containment needs only the start point: every row's own
    #    valid_until is a breakpoint, so a sub-interval starting inside
    #    a row never extends past it.
    out = intervals
    if bucket_days:
        # 1-row global max breakpoint, broadcast onto each right side
        # to cap open-ended intervals' bucket ranges. (`out` already
        # carries `__bktl`, the bucket of valid_from, from step 2.)
        gmax = F.broadcast(spine.agg(F.max("__ts").alias("__gmax")))
    for i, t in enumerate(tables):
        payload = [c for c in t.columns if c not in by and c not in VALIDITY]
        new_payload = [c for c in payload if c not in out.columns]
        right = t.select(
            *[F.col(k).alias(f"__k{i}_{k}") for k in by],
            *new_payload,
            F.col("valid_from").alias(f"__vf{i}"),
            F.col("valid_until").alias(f"__vu{i}"),
        )
        if bucket_days:
            # Replicate each row to every bucket its half-open validity
            # touches: [floor(vf/W), floor((vu - 1 day)/W)]; open rows
            # cap at the global max breakpoint's bucket.
            right = (
                right.crossJoin(gmax)
                .withColumn(
                    "__bkt",
                    F.explode(
                        F.sequence(
                            _bucket_of(f"__vf{i}", bucket_days),
                            _bucket_of(
                                F.coalesce(
                                    F.date_sub(F.col(f"__vu{i}"), 1),
                                    F.col("__gmax"),
                                ),
                                bucket_days,
                            ),
                        )
                    ),
                )
                .drop("__gmax")
            )
        cond = None
        for k in by:
            c = out[k].eqNullSafe(right[f"__k{i}_{k}"])
            cond = c if cond is None else cond & c
        if bucket_days:
            cond = cond & (out["__bktl"] == right["__bkt"])
        cond = (
            cond
            & (out["valid_from"] >= right[f"__vf{i}"])
            & (
                right[f"__vu{i}"].isNull()
                | (out["valid_from"] < right[f"__vu{i}"])
            )
        )
        out = out.join(right, cond, "left").drop(
            f"__vf{i}", f"__vu{i}", *[f"__k{i}_{k}" for k in by]
        )
        if bucket_days:
            out = out.drop("__bkt")
    return out.drop("__bktl") if bucket_days else out


def _bucketed_clip_join(
    primary: DataFrame,
    right: DataFrame,
    common: list[str],
    width: int,
    gmax: DataFrame,
) -> DataFrame:
    """Bucketed equivalent of ``primary.join(right, on=common,
    how="left")`` for the truncation clip — row-identical output
    (pre-overlap-filter rows that the shared overlap filter would drop
    anyway may be absent; every row the filter keeps is present with
    identical multiplicity).

    The plain left join is equi on the key columns only, so a hot key
    degenerates to |primary_key_group| x |secondary_key_group|
    comparisons inside one sort-merge task — at 100x data this is the
    engine's core-operator bottleneck (measured: the clip, not the
    interlace containment, dominated the single-key stress). Here both
    sides replicate to the W-day buckets their validity spans (capped
    at the global max ``valid_from`` — every retained pair's overlap
    start is some row's ``valid_from``) and join equi on ``(keys...,
    bucket)``; a pair is kept only in the bucket containing
    ``greatest(valid_from, __vf_y)``, its overlap start, so each pair
    appears exactly once. NULL ``valid_from`` rows (never produced by
    the SCD2 stores, but legal inputs) can't be bucketed and take the
    plain per-key join; key-unmatched primary rows are re-added
    NULL-extended to reproduce the left join (the downstream overlap
    filter keeps them only when the primary interval is open-ended,
    exactly as on the plain path)."""
    r_keyed = right.select(
        *[F.col(k).alias(f"__rk_{k}") for k in common],
        *[c for c in right.columns if c not in common],
    )
    p_nn = primary.where(F.col("valid_from").isNotNull())
    p_null = primary.where(F.col("valid_from").isNull())
    r_nn = r_keyed.where(F.col("__vf_y").isNotNull())
    r_null = r_keyed.where(F.col("__vf_y").isNull())

    def _rep(df: DataFrame, vf: str, vu: str, bkt: str) -> DataFrame:
        end = F.least(
            F.coalesce(F.date_sub(F.col(vu), 1), F.col("__cgmax")),
            F.col("__cgmax"),
        )
        return (
            df.crossJoin(gmax)
            .withColumn(
                bkt,
                F.explode(F.sequence(_bucket_of(vf, width), _bucket_of(end, width))),
            )
            .drop("__cgmax")
        )

    pb = _rep(p_nn, "valid_from", "valid_until", "__bktp")
    rb = _rep(r_nn, "__vf_y", "__vu_y", "__bktr")
    cond = pb["__bktp"] == rb["__bktr"]
    for k in common:
        cond = cond & (pb[k] == rb[f"__rk_{k}"])
    # keep each pair only in its overlap-start bucket
    cond = cond & (
        pb["__bktp"]
        == _bucket_of(F.greatest(pb["valid_from"], rb["__vf_y"]), width)
    )
    matched = pb.join(rb, cond, "inner").drop("__bktp", "__bktr")

    # exactness fallbacks for NULL valid_from rows (plain per-key join;
    # empty under the SCD2 contract)
    def _plain(left: DataFrame, r: DataFrame) -> DataFrame:
        c = None
        for k in common:
            e = left[k] == r[f"__rk_{k}"]
            c = e if c is None else c & e
        return left.join(r, c, "inner")

    matched = matched.unionByName(_plain(p_null, r_keyed)).unionByName(
        _plain(p_nn, r_null)
    )
    matched = matched.drop(*[f"__rk_{k}" for k in common])

    # key-unmatched primary rows, NULL-extended (left-join parity)
    unmatched = primary.join(
        right.select(*common).distinct(), on=common, how="left_anti"
    )
    for c in right.columns:
        if c not in common:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(right.schema[c].dataType)
            )
    return matched.unionByName(unmatched.select(matched.columns))


def truncate_interlace(
    primary: DataFrame,
    secondary: list[DataFrame] | DataFrame | None = None,
    bucket_days: int | str | None = "auto",
    auto_threshold: float = 2000.0,
) -> DataFrame:
    """Clip each secondary table to the primary's validity, then
    interlace. See module docstring for parity notes
    (``R/truncate_interlace.R:80-120``). ``bucket_days`` selects the
    bucketed range-join scale path of :func:`interlace`; ``"auto"``
    (default) probes the RAW inputs (not the truncated plans, which
    would re-execute the clip joins) and self-selects when the
    average key group exceeds ``auto_threshold`` rows."""
    if secondary is None:
        return primary
    if isinstance(secondary, DataFrame):
        secondary = [secondary]
    if len(secondary) == 0:
        return primary

    primary_keys = key_columns(primary)
    for s in secondary:
        if not any(k in key_columns(s) for k in primary_keys):
            raise ValueError("No common keys found to interlace by!")
    if bucket_days == "auto":
        bucket_days = resolve_bucket_days(
            [primary, *secondary], primary_keys, auto_threshold
        )
    gmax_clip = None
    if bucket_days:
        # global max valid_from across all tables: caps open-ended
        # rows' bucket ranges in the bucketed clip joins (every
        # retained pair's overlap start is some row's valid_from).
        vf_union = primary.select(F.col("valid_from").alias("__vf"))
        for s in secondary:
            vf_union = vf_union.unionByName(
                s.select(F.col("valid_from").alias("__vf"))
            )
        gmax_clip = F.broadcast(vf_union.agg(F.max("__vf").alias("__cgmax")))
    truncated = []
    for s in secondary:
        common = [k for k in primary_keys if k in key_columns(s)]
        if not common:
            raise ValueError("No common keys found to interlace by!")
        # Reference suffixes collisions ".y" then drops them: colliding
        # secondary payload silently loses to the primary's column.
        s_payload = [
            c
            for c in s.columns
            if c not in common and c not in VALIDITY and c not in primary.columns
        ]
        right = s.select(
            *common,
            *s_payload,
            F.col("valid_from").alias("__vf_y"),
            F.col("valid_until").alias("__vu_y"),
        )
        if bucket_days:
            j = _bucketed_clip_join(
                primary, right, common, bucket_days, gmax_clip
            )
        else:
            j = primary.join(right, on=common, how="left")
        # Overlap filter, three-valued logic intact (R/truncate_interlace.R:105-108).
        j = j.where(
            ((F.col("valid_from") < F.col("__vu_y")) | F.col("__vu_y").isNull())
            & (
                (F.col("valid_until") > F.col("__vf_y"))
                | F.col("valid_until").isNull()
            )
        )
        # CASE-WHEN clamp (R/truncate_interlace.R:109-112): NULLs select
        # the secondary's bound.
        j = j.withColumns(
            {
                "valid_from": case_max(F.col("valid_from"), F.col("__vf_y")),
                "valid_until": case_min(F.col("valid_until"), F.col("__vu_y")),
            }
        ).drop("__vf_y", "__vu_y")
        truncated.append(j)

    return interlace(truncated, by=primary_keys, bucket_days=bucket_days)
