"""Iterative graph analytics over edge-list DataFrames.

Connected components and triangle counting live with the dedup
pipelines (``pipeline/dedup.py`` — they ARE dedup machinery); this
module holds general-purpose iterative algorithms whose fixed-point
loops are driven from the driver while every per-iteration step is a
plain distributed join/aggregate (the DataFrame rendering of the
Pregel pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from diseasystore_spark.trace import note


#: Edge-count threshold for :func:`pagerank_integer`'s ``"auto"``
#: iteration strategy: above it the mirrored edge list is persisted
#: HASH-PARTITIONED on the source key instead of localCheckpointed.
#: Rationale: a checkpointed frame has UnknownPartitioning, so when
#: the rank frame is too big to broadcast (|V| past the 10 MB
#: auto-broadcast threshold ≈ a few hundred thousand nodes) every
#: iteration's rank join RE-EXCHANGES all |E| edge rows; the persisted
#: keyed layout moves only the |V|-row rank frame per round. Below the
#: threshold the rank frame broadcasts, the edge list is never
#: re-exchanged anyway, and the columnar cache build measurably LOSES
#: to the cheap checkpoint (sf0.1 A/B: 30 % slower, round 11 §6.4;
#: 20M-edge synthetic A/B: persist ~1.5× faster, round 12). 10M edge
#: rows ≈ the point where |V| plausibly outgrows broadcast.
PAGERANK_PERSIST_EDGE_ROWS = 10_000_000


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    undirected: bool = True,
    iteration_strategy: str = "auto",
) -> DataFrame:
    """PageRank in scaled-INTEGER arithmetic — bit-identical in any
    engine, unlike the textbook float formulation whose sums depend
    on reduction order.

    Ranks are micro-units of ``scale``: rank_0 = ``scale div N`` and

        rank_{i+1}(v) = (scale * (100-damping_pct) div 100) div N
                      + damping_pct * SUM_u(rank_i(u) div deg(u)) div 100

    over in-neighbors ``u`` — every operation is integer (``div`` =
    SQL integral division), and integer sums are exact and
    commutative, so the result is deterministic under ANY partitioning
    or reduction order and a DuckDB oracle reproduces it hash-exactly
    (q111). The float PageRank is the limit ``scale -> inf``; at
    ``scale=1e12`` the per-iteration floor error is < N / scale.

    Distributed shape: each iteration is one equi-join of the edge
    list with the rank frame plus one map-side-combinable groupBy on
    the destination — the Pregel message/combine pattern in DataFrame
    form. The rank frame is ``localCheckpoint``ed per iteration: the
    classic lineage-truncation requirement of iterative algorithms
    (without it the plan doubles per round). Degrees are attached to
    the edge list ONCE (a count window over the source key — no
    per-iteration degree join) and that frame is checkpointed keyed
    by source, so each round moves only rank-frame and message-frame
    bytes. Undirected inputs are canonicalized (``least/greatest``)
    BEFORE the dedup so ``distinct`` processes half the rows and the
    mirror union is shuffle-free; mirroring also guarantees every
    node receives messages, so the new rank frame is read straight
    off the destination sums with no nodes left-join (the directed
    path keeps it — pure sources receive nothing).

    Overflow bound: ``damping_pct * SUM(contrib)`` must fit a signed
    64-bit integer; contributions sum to at most ``N * scale``, so
    keep ``N * scale * 100 < 2^63`` (at the default scale: graphs to
    ~90M nodes; lower ``scale`` for larger graphs).

    ``undirected=True`` mirrors every edge. Self-loops and duplicate
    edges are dropped (each neighbor pair contributes once). Isolated
    nodes never appear in an edge list, so they are out of scope by
    construction (their rank would be the base term).

    Output: ``(node, rank)`` with ``rank`` in micro-units (bigint).

    ``iteration_strategy`` picks how the loop-invariant edge frame is
    pinned: ``"checkpoint"`` (localCheckpoint — cheapest build; the
    planner sees UnknownPartitioning, so on graphs whose rank frame
    cannot broadcast every iteration re-exchanges |E| rows),
    ``"persist"`` (hash-partitioned persist on the source key — one
    extra shuffle + columnar cache build up front, then each
    iteration exchanges only the |V|-row rank frame), or ``"auto"``
    (default): one count over the already-materialized checkpoint
    decides by :data:`PAGERANK_PERSIST_EDGE_ROWS`. The result is
    bit-identical either way (integer arithmetic; verified by hash in
    the round-12 A/B).
    """
    from pyspark.sql import Window

    if iteration_strategy not in ("auto", "checkpoint", "persist"):
        raise ValueError(
            "iteration_strategy must be 'auto', 'checkpoint' or 'persist'"
        )

    if undirected:
        # Canonical orientation first: dedup half the rows, then the
        # mirror union is a narrow op over an already-distinct set.
        half = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("s"),
                F.greatest(F.col(src), F.col(dst)).alias("d"),
            )
            .where(F.col("s") != F.col("d"))
            .distinct()
        )
        e = half.unionByName(
            half.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
    else:
        e = (
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
            .where(F.col("s") != F.col("d"))
            .distinct()
        )
    # Degree rides on every edge row (count window over the source
    # key — one shuffle, no join); the frame is checkpointed keyed by
    # s so the loop never recomputes or re-exchanges it.
    e = e.withColumn(
        "deg", F.count(F.lit(1)).over(Window.partitionBy("s"))
    ).localCheckpoint()
    if iteration_strategy == "auto":
        # one aggregate over the just-materialized blocks — no rescan
        n_edges = e.count()
        iteration_strategy = (
            "persist" if n_edges > PAGERANK_PERSIST_EDGE_ROWS else "checkpoint"
        )
        note(iteration_strategy=iteration_strategy, edges=n_edges)
    if iteration_strategy == "persist":
        from pyspark import StorageLevel

        # Re-key the pinned frame on the join key and KEEP the
        # partitioning visible to the planner (persist preserves the
        # plan): each iteration's rank join then shuffles only the
        # rank frame — the scale case where |V| is past broadcast and
        # the checkpointed form would re-exchange all |E| rows per
        # round (guide §2.4 share-one-exchange; 20M-edge A/B:
        # median 58 s → 37 s).
        e = e.repartition(F.col("s")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    nodes = e.select(F.col("s").alias("node")).distinct()
    # 1-row node count, broadcast into every rank projection — no
    # driver action, no collected literal.
    n_total = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    base_num = (scale * (100 - damping_pct)) // 100  # exact Python int

    pr = (
        nodes.crossJoin(n_total)
        .select(
            "node",
            F.expr(f"cast({scale} as bigint) div n").alias("rank"),
        )
        .localCheckpoint()
    )
    rank_expr = F.expr(
        f"cast({base_num} as bigint) div n "
        f"+ cast({damping_pct} as bigint) * coalesce(sc, "
        f"cast(0 as bigint)) div 100"
    ).alias("rank")
    for _ in range(iterations):
        contrib = e.join(pr, e["s"] == pr["node"]).select(
            F.col("d"), F.expr("rank div deg").alias("c")
        )
        sums = contrib.groupBy("d").agg(F.sum("c").alias("sc"))
        if undirected:
            # Mirrored edges ⇒ every node has in-neighbors ⇒ the sum
            # frame covers the node set; no left-join needed.
            pr = (
                sums.crossJoin(n_total)
                .select(F.col("d").alias("node"), rank_expr)
                .localCheckpoint()
            )
        else:
            pr = (
                nodes.join(sums, nodes["node"] == sums["d"], "left")
                .crossJoin(n_total)
                .select("node", rank_expr)
                .localCheckpoint()
            )
    if iteration_strategy == "persist":
        # every rank frame is checkpointed, so the pinned edge frame
        # has no reader left: release it instead of leaking its cache
        e.unpersist()
    return pr


def degree_matched_negatives(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    salt: str = "neg0",
    buckets: int = 1024,
    edges_canonical: bool = False,
) -> DataFrame:
    """Degree-matched negative sampling for link-prediction /
    graph-embedding training: for every positive edge ``(a, b)``,
    emit one deterministic candidate negative ``(a, b')`` where
    ``b'`` shares ``b``'s log2-degree bucket — the standard
    debiasing (uniform negatives make the model learn "popular nodes
    are linked", degree-matched ones force structure) — and drop
    candidates that collide with a REAL edge (one anti-join; the
    resulting slight undersampling is the documented trade of
    one-shot relational sampling vs. a resample loop).

    Determinism: within each degree bucket, nodes are ranked by
    ``(md5(salt|node), node)``; the negative for ``(a, b)`` is the
    node at ``(rank(b) + 1 + md5(salt|a|b) mod (m-1)) mod m`` where
    ``m`` is the bucket size — a pure function of the edge set and
    ``salt`` (vary per epoch), never equal to ``b`` itself, and
    reproducible in any SQL engine.

    Scale shape: degrees are one combinable groupBy over the
    (undirected) edge list; the per-bucket rank uses the two-level
    distributed rank over composite (degree-bucket × hash-bucket)
    keys — no giant single window even when one degree class holds
    most nodes (the degree-1 bucket usually does); candidate lookup
    is one equi-join on (bucket, rank); the realness check is one
    ``left_anti`` on (src, dst). Nothing is ever quadratic in nodes.

    Output: ``(src, pos_dst, neg_dst, degree_bucket int)`` — one row
    per positive edge whose candidate survived the collision check.

    ``edges_canonical=True`` declares the input already DISTINCT and
    canonically oriented (``src < dst``, no self-loops). Then the
    mirror union is distinct by construction (the two halves are
    disjoint on the orientation predicate), so the undirected frame
    needs neither the ``distinct`` shuffle nor its own
    materialization: degrees come off a map-side-combinable groupBy
    over the narrow union of the pinned edge list (the shuffle
    carries ≤ |V| partial rows per partition, never the edge table),
    and the realness anti-join probes the pinned CANONICAL list
    directly via ``least/greatest`` keys — half the anti-join's
    build-side bytes at any scale. The default keeps the general
    behavior for arbitrary (duplicated / bidirectional / self-loop)
    inputs.
    """
    from diseasystore_spark.pipeline.sample import _SPACE, hash_hex

    if buckets <= 0 or (buckets & (buckets - 1)) != 0 or buckets > _SPACE:
        raise ValueError(
            f"buckets must be a positive power of two <= 2^32, got {buckets}"
        )
    e = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        # pin the INPUT too: `e` feeds both the undirected frame and
        # the positive-edge branch below — without this, an expensive
        # upstream plan (q147's within-order self-join + distinct)
        # re-executes once per consumer (measured 10.8 s -> 6.6 s at
        # sf0.1); for cheap scans the one extra materialization of
        # the edge list is noise
        .localCheckpoint()
    )
    mirror = e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
    if edges_canonical:
        # Input distinct + strictly oriented: the two union halves are
        # disjoint (s<d vs s>d), so the union IS the distinct
        # undirected set — a narrow map over the pinned edge list.
        # No distinct shuffle, no second materialization; the degree
        # groupBy partial-aggregates map-side so its exchange carries
        # per-partition node partials, never edge rows.
        und = e.unionByName(mirror)
        canon = e
    else:
        # localCheckpoint: the undirected edge list feeds the degree
        # agg AND the final realness anti-join, and the ranked-node
        # frame is probed twice — without pinning, Catalyst re-derives
        # the whole subtree per consumer (measured ~15 re-scans of the
        # input on the q147 shape). Same bounded-frame pattern as
        # pipeline/dedup.py.
        und = e.unionByName(mirror).distinct().localCheckpoint()
        # canonical half of the (distinct, symmetric) undirected set:
        # the realness check below is orientation-insensitive, so
        # probing the canonical half via least/greatest keys is
        # equivalent and moves half the bytes. Self-loops (s == d)
        # drop out of the filter, which is safe: the candidate frame
        # already excludes neg_dst == src rows.
        canon = und.where(F.col("__s") < F.col("__d"))
    deg = und.groupBy("__s").agg(
        F.count(F.lit(1)).cast("bigint").alias("__deg")
    )
    nodes = deg.select(
        F.col("__s").alias("__node"),
        F.floor(F.log2("__deg")).cast("int").alias("__db"),
    )
    # two-level rank of nodes within their degree bucket, ordered by
    # (hash, node): composite key (degree bucket, hash sub-bucket)
    width = _SPACE // buckets
    h = F.conv(hash_hex(F.col("__node"), salt), 16, 10).cast("bigint")
    nb = nodes.withColumn("__h", h).withColumn(
        "__cb",
        F.col("__db").cast("bigint") * buckets + F.expr(f"__h DIV {width}"),
    )
    counts = nb.groupBy("__db", "__cb").agg(
        F.count(F.lit(1)).alias("__n")
    )
    gw = (
        Window.partitionBy("__db")
        .orderBy("__cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = counts.select(
        "__cb",
        F.coalesce(F.sum("__n").over(gw), F.lit(0)).alias("__prefix"),
    )
    iw = Window.partitionBy("__cb").orderBy("__h", "__node")
    ranked = (
        nb.join(F.broadcast(prefixes), "__cb")
        .withColumn(
            "__r",
            (F.col("__prefix") + F.row_number().over(iw) - 1).cast("bigint"),
        )
        .select("__node", "__db", "__r")
        .localCheckpoint()
    )
    msize = ranked.groupBy("__db").agg(
        F.count(F.lit(1)).cast("bigint").alias("__m")
    )
    # positive edges annotated with dst's bucket/rank and the offset
    eh = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}|"),
                    F.col("__s").cast("string"),
                    F.lit("|"),
                    F.col("__d").cast("string"),
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    pos = (
        e.join(
            ranked.select(
                F.col("__node").alias("__d"),
                "__db",
                F.col("__r").alias("__rb"),
            ),
            "__d",
        )
        .join(F.broadcast(msize), "__db")
        .where(F.col("__m") > 1)
        .withColumn("__eh", eh)
        .withColumn(
            "__nr",
            (
                F.col("__rb") + F.lit(1) + F.pmod("__eh", F.col("__m") - 1)
            )
            % F.col("__m"),
        )
    )
    cand = pos.join(
        ranked.select(
            F.col("__db"),
            F.col("__r").alias("__nr"),
            F.col("__node").alias("neg_dst"),
        ),
        ["__db", "__nr"],
    )
    out = cand.select(
        F.col("__s").alias("src"),
        F.col("__d").alias("pos_dst"),
        "neg_dst",
        F.col("__db").alias("degree_bucket"),
    )
    # drop candidates that are REAL edges (undirected check) and
    # self-negatives (the bucket walk can land on the source node
    # itself — a self-loop is not a valid negative either). The
    # membership test is orientation-insensitive, so it probes the
    # CANONICAL edge list on least/greatest keys — half the build-side
    # bytes of the mirrored frame (src != neg_dst holds on every
    # probed row, so least < greatest and the canonical filter loses
    # nothing).
    probe = out.where(F.col("neg_dst") != F.col("src")).withColumns(
        {
            "__ca": F.least(F.col("src"), F.col("neg_dst")),
            "__cb": F.greatest(F.col("src"), F.col("neg_dst")),
        }
    )
    return probe.join(
        canon.select(
            F.col("__s").alias("__ca"), F.col("__d").alias("__cb")
        ),
        ["__ca", "__cb"],
        "left_anti",
    ).drop("__ca", "__cb")
