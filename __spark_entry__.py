"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a libspatialindex_spark engine operator over a
spatial fixture *derived deterministically* from the shared testdata tables
(see ``libspatialindex_spark/sources/testdata.py`` — exact dyadic-rational
coordinates, so Spark and the DuckDB oracle agree bit-for-bit).  The oracle
SQL implements the reference semantics (closed intervals, kNN ties,
both-order self-join pairs) as an independent brute-force query — a direct
port of the reference's differential-testing methodology
(``test/rtree/Exhaustive.cc``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.operators import (
    dedup,
    events,
    knn,
    range_query,
    similarity,
    spatial_join,
    temporal,
    text,
)
from libspatialindex_spark.operators.relation import BoxCols, SpatialRelation
from libspatialindex_spark.sources import testdata as td

CONF = EngineConfig()

# Fixed query constants (all parse to identical doubles in both engines).
W = (0.25, 0.25, 0.30, 0.30)  # range window
P = (0.5, 0.5)  # point-location / kNN query point
K = 10  # kNN k (test/rtree/test1/run uses 10NN)
KBOX = (0.48, 0.47, 0.53, 0.52)  # box-kNN query region (q53)
SEGQ = (0.2, 0.3, 0.7, 0.6)  # segment-kNN query segment (q54)
SJW = (0.40, 0.40, 0.43, 0.43)  # self-join restriction window
GK_LO, GK_HI = 524288, 525311  # grid-key strip (ix=512) for Q8
POLY_BOX = BoxCols("pxmin", "pymin", "pxmax", "pymax")


def _rects_rel(
    spark: SparkSession, sf_dir: str, mat: bool = False, spread: bool = False
) -> SpatialRelation:
    # No z column here: Z-prune only pays when z is a *materialized* column
    # of a stored index (parquet attribute + zone maps).  On a derived
    # relation the data is scanned anyway, and filtering on a computed z
    # would make Catalyst substitute the deep Morton expression into every
    # BETWEEN (expression blow-up).  Exact codegen predicates only.
    #
    # ``mat=True`` (multi-job consumers: the kNN ring/seed loops, q19):
    # lazy localCheckpoint so the derivation is evaluated once and every
    # subsequent job of the operator reads plain materialized columns
    # instead of re-deriving per job.  Single-pass queries stay direct —
    # for them the barrier would just add a write+read of the whole table.
    #
    # ``spread=True`` additionally widens the checkpoint to the core count
    # BEFORE materializing (r6, guide §2.5/§6): the bench tables are
    # single-row-group parquet, so the raw scan plans ≤3 splits and a
    # checkpoint taken on it pins EVERY downstream job of the operator to
    # 3 tasks.  Worth one narrow shuffle only for the HEAVY multi-job
    # consumer (q19: seed histogram + candidate join over the checkpoint);
    # for the single-ring kNN queries the exchange costs more than the
    # extra parallelism buys (measured +0.5-0.7 s each at sf0.1), so they
    # materialize with the scan layout.  At real scale the scan is already
    # wide and spread() is a no-op either way.
    df = td.rects(spark, sf_dir)
    if mat:
        if spread:
            df = td.spread(df, "id")
        df = df.localCheckpoint(eager=False)
    return SpatialRelation(df, CONF, max_extent=(td.MAX_EXTENT, td.MAX_EXTENT))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the north-rule dataflow — point-in-polygon spatial join +
    deterministic tile assignment (broadcast dim layer, zero shuffles)."""
    sf_dir = "/root/testdata/sf0.001"
    pts = td.points(spark, sf_dir)
    pol = td.polys(spark, sf_dir)
    joined = spatial_join.point_in_box_join(
        pts, pol, "x", "y", POLY_BOX, CONF, broadcast_boxes=True
    )
    tile = curves.cell_id(F.col("x"), F.col("y"), CONF, bits=CONF.tile_bits)
    return joined.withColumn("tile_id", tile).select(
        "id", "poly_id", "tile_id", "x", "y"
    )


# --------------------------------------------------------------- queries ---


def q01_range_intersects(spark, sf_dir):
    rel = _rects_rel(spark, sf_dir)
    return range_query.intersects_query(rel, *W).select(
        "id", "xmin", "ymin", "xmax", "ymax"
    )


def q02_containment(spark, sf_dir):
    rel = _rects_rel(spark, sf_dir)
    return range_query.contains_what_query(rel, *W).select("id")


def q03_point_location(spark, sf_dir):
    rel = _rects_rel(spark, sf_dir)
    return range_query.point_location_query(rel, *P).select("id")


def q04_knn(spark, sf_dir):
    rel = _rects_rel(spark, sf_dir, mat=True)
    return knn.knn_query(rel, P[0], P[1], K).select("id", "dist2")


def q53_knn_box(spark, sf_dir):
    """kNN with a REGION query shape: nearestNeighborQuery accepts any
    IShape (RTree.cc:744-746) with distance query.getMinimumDistance(MBR)
    — Region↔Region per Region.cc:314-338 — and the C API's
    Index_NearestNeighbors_obj passes a min/max box (sidx_api_test.h:87).
    Tie-inclusive at the k-th distance, like q04."""
    rel = _rects_rel(spark, sf_dir, mat=True)
    return knn.knn_box_query(rel, *KBOX, K).select("id", "dist2")


def q54_knn_segment(spark, sf_dir):
    """kNN against a LINE-SEGMENT query shape: the reference's
    nearestNeighborQuery accepts any IShape but LineSegment's Region
    distance throws 'Not implemented yet' (LineSegment.cc:233-244); this
    engine defines the true clamped segment↔box metric
    (functions/geometry.min_dist2_segment_box) — exact, SQL-expressible,
    tie-inclusive at the k-th like q04/q53."""
    rel = _rects_rel(spark, sf_dir, mat=True)
    return knn.knn_segment_query(rel, *SEGQ, K).select("id", "dist2")


def q05_self_join(spark, sf_dir):
    rel = _rects_rel(spark, sf_dir)
    return spatial_join.self_join_query(rel, *SJW)


def q06_bounds(spark, sf_dir):
    rel = _rects_rel(spark, sf_dir)
    return range_query.bounds(rel)


def q07_count_range(spark, sf_dir):
    rel = _rects_rel(spark, sf_dir)
    return range_query.count_intersects(rel, *W)


def q08_key_range(spark, sf_dir):
    """Learned-index range query analog (SURVEY.md Q8): a sort-key range
    predicate on the grid key — `LearnedIndex.cc:450-453` routes to exactly
    this once the 'model' is the monotone curve key."""
    df = td.rects(spark, sf_dir)
    gkey = curves.cell_id(F.col("xmin"), F.col("ymin"), CONF, bits=10)
    return (
        df.withColumn("gkey", gkey)
        .filter(F.col("gkey").between(GK_LO, GK_HI))
        .select("id", "gkey")
    )


def q15_count_contains(spark, sf_dir):
    """A1 — Index_Contains_count (capi/sidx_api.h:193-204)."""
    rel = _rects_rel(spark, sf_dir)
    return range_query.count_contains(rel, *W)


def q11_internal_nodes(spark, sf_dir):
    """Q6 analog: subtree-granular containment — (node_cell, id) pairs."""
    rel = _rects_rel(spark, sf_dir)
    return range_query.internal_nodes_query(rel, *W, bits=8)


BALL = (0.5, 0.5, 0.05)  # circular query (cx, cy, r)
SEG = (0.1, 0.2, 0.8, 0.7)  # segment query (x1, y1, x2, y2)


def q12_ball_range(spark, sf_dir):
    """Ball-shape range query (Ball.cc support)."""
    rel = _rects_rel(spark, sf_dir)
    return range_query.ball_query(rel, *BALL).select("id")


def q13_segment_range(spark, sf_dir):
    """LineSegment-shape range query (LineSegment.cc:275 semantics)."""
    rel = _rects_rel(spark, sf_dir)
    return range_query.segment_query(rel, *SEG).select("id")


def q49_segment_segment(spark, sf_dir):
    """Segment×segment predicate (LineSegment.cc:472-483 decision
    procedure): each rect contributes its main diagonal (xmin,ymin)→
    (xmax,ymax); emit ids whose diagonal meets the fixed query segment
    SEG — proper crossing or collinear touch, endpoints inclusive."""
    from libspatialindex_spark.functions import geometry as G

    # Lineage barrier BEFORE the predicate: the segment test references
    # each coordinate ~8× (4 signed areas + between branches); Catalyst
    # pushes the filter through any reshuffle and CollapseProject then
    # substitutes the full dyadic derivation of every coordinate into
    # every reference (the OR-chain blow-up class — codegen bails to the
    # interpreter, measured 16 s vs 0.4 s on plain columns).  A lazy
    # localCheckpoint materializes the 5 coordinate columns once; the
    # filter then sees plain attributes.  On a stored table (the real
    # deployment) the columns are already materialized and this is moot.
    df = td.rects(spark, sf_dir).localCheckpoint(eager=False)
    pred = G.segment_intersects_segment(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
        SEG[0], SEG[1], SEG[2], SEG[3],
    )
    return df.filter(pred).select("id")


def q14_batch_queries(spark, sf_dir):
    """The reference's multi-window workload (RTreeParallel.cc analog) as
    ONE job: (qid, id) hits for every derived query window."""
    from libspatialindex_spark.operators import batch_query

    rel = _rects_rel(spark, sf_dir)
    td.register_views(spark, sf_dir)
    windows = spark.sql(td.WINDOWS_SQL)
    return batch_query.batch_intersects(rel, windows)


# 3-D query constants (the fork's 3-D test families — RTreeQuery3d etc.).
W3_LO, W3_HI = (0.25, 0.25, 0.25), (0.32, 0.32, 0.32)
P3 = (0.5, 0.5, 0.5)
B3_LO, B3_HI = (0.40, 0.45, 0.50), (0.50, 0.55, 0.60)  # 3-D box-kNN (q55)


def _rects3_rel(spark, sf_dir, mat: bool = False):
    from libspatialindex_spark.operators import nd

    td.register_views(spark, sf_dir)
    df = spark.sql(td.RECTS3D_SQL)
    if mat:
        # multi-job consumers (the 3-D kNN ring loops) — same lazy-
        # checkpoint rationale as ``_rects_rel(mat=True)`` (no spread:
        # ring queries are few-job, the exchange costs more than it buys)
        df = df.localCheckpoint(eager=False)
    box = nd.NDBox((("xmin", "xmax"), ("ymin", "ymax"), ("wmin", "wmax")))
    return SpatialRelation(
        df, nd.NDConfig(axes=((0.0, 1.0),) * 3, grid_bits=10), box
    )


def q16_3d_range(spark, sf_dir):
    """3-D range intersection (dimension-generic Q1; RTree.cc:306-308
    accepts any dim, fork ships RTreeQuery3d)."""
    rel = _rects3_rel(spark, sf_dir)
    return range_query.intersects_query(rel, *W3_LO, *W3_HI).select("id")


def q17_3d_knn(spark, sf_dir):
    """3-D tie-inclusive kNN (dimension-generic Q4)."""
    rel = _rects3_rel(spark, sf_dir, mat=True)
    return knn.knn_query(rel, *P3, K).select("id", "dist2")


# Per-process memo of the stored 3-D index (build-once/query-many, like
# _ANN_IDX): q56 exercises the full ND stored stack — bulk load, manifest
# MBR pruning, and the learned file-map refinement — under the q16 oracle.
_ND_IDX: dict[str, object] = {}


def _nd_index(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from libspatialindex_spark.operators import index_build, nd

    if sf_dir in _ND_IDX:
        return _ND_IDX[sf_dir]
    src = f"{sf_dir}/lineitem.parquet"
    # Build parameters (NDConfig + build kwargs) are part of the cache
    # key: changing any of them in code must miss the on-disk memo, not
    # silently reuse a stale layout (ADVICE r4 — the old key was a
    # hand-maintained version literal).
    box = nd.NDBox((("xmin", "xmax"), ("ymin", "ymax"), ("wmin", "wmax")))
    conf3 = nd.NDConfig(
        axes=((0.0, 1.0),) * 3, grid_bits=10, target_partitions=16
    )
    build_kwargs = {"max_records_per_file": 20_000}
    tag = hashlib.md5(
        f"{sf_dir}|nd3|{os.path.getmtime(src)}|{conf3!r}|{box.dims!r}|"
        f"{sorted(build_kwargs.items())!r}".encode()
    ).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_nd_{tag}")
    try:
        idx = index_build.load_index(spark, path, conf3)
    except FileNotFoundError:
        td.register_views(spark, sf_dir)
        df = spark.sql(td.RECTS3D_SQL)
        idx = index_build.build_index(df, path, conf3, box, **build_kwargs)
    _ND_IDX[sf_dir] = idx
    return idx


def q56_3d_range_stored(spark, sf_dir):
    """3-D range intersection through the STORED dimension-generic index:
    octree-prefix buckets + per-axis array manifest (driver MBR prune) +
    the learned per-file z zone map (ZMQuery3d analog) — results ≡ the
    derived-relation q16, so the same oracle holds."""
    idx = _nd_index(spark, sf_dir)
    rel = idx.relation()
    return range_query.intersects_query(rel, *W3_LO, *W3_HI).select("id")


def q55_3d_knn_box(spark, sf_dir):
    """3-D kNN with a REGION query shape — nearestNeighborQuery accepts
    any IShape at any dimension (RTree.cc:744-746 + 306-308); distance is
    the dimension-generic Region↔Region delta loop (Region.cc:312-338).
    Tie-inclusive like q17."""
    rel = _rects3_rel(spark, sf_dir, mat=True)
    return knn.knn_box_query(rel, *B3_LO, *B3_HI, K).select("id", "dist2")


TQ = (200.0, 260.0)  # Q9 time interval [t0, t1)
MQ = (0.0, 512.0)  # Q10 query time interval [t0, t1]


def q09_time_range(spark, sf_dir):
    """MVR-tree time-versioned range query (SURVEY.md Q9): versions are
    folded from the timestamped insert/delete op stream (every third id is
    deleted mid-life and re-inserted with a shifted box — true multi-
    version), query dedups ids across versions (visitedData semantics).

    r6 shape (guide §2.3/§2.4): the op stream comes from ``td.mvr_ops``
    (base CTE computed once; the SQL text's four-way union re-derived and
    re-DISTINCTed the whole base per branch), and the query window is
    applied to the OPS before the fold — ``versions_from_ops`` groups by
    (id, box) and every op row carries its group's box verbatim, so
    pruning whole groups by the spatial predicate is exactly equivalent
    to filtering the folded versions (the version rows of a dropped group
    could never pass the same predicate downstream).  The fold's shuffle
    then carries only window-relevant ops instead of the full stream.
    The predicate pushes below each branch's DISTINCT (grouping-key
    filter), so no lineage barrier is needed — each branch is a
    scan+filter, and the old localCheckpoint is gone."""
    from libspatialindex_spark.functions import geometry as G

    ops = td.mvr_ops(spark, sf_dir).filter(
        G.intersects(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), *W
        )
    )
    vers = temporal.versions_from_ops(ops)
    rel = SpatialRelation(vers, CONF, max_extent=(td.MAX_EXTENT, td.MAX_EXTENT))
    return temporal.time_range_query(rel, *W, *TQ).select("id")


def q10_moving_range(spark, sf_dir):
    """TPR-tree moving-object range query (SURVEY.md Q10).

    Lineage barrier before the feasibility predicate (the q49 pattern):
    ``_axis_interval`` references each of (x, y, vx, vy) ~4×, and
    CollapseProject would substitute the full dyadic derivation into
    every reference — codegen blow-up, measured 2.8 s → 0.41 s at sf0.1
    with the barrier.  On a stored table the columns are already
    materialized and this is moot."""
    td.register_views(spark, sf_dir)
    mov = spark.sql(td.MOVING_SQL).localCheckpoint(eager=False)
    return temporal.moving_range_query(mov, *W, *MQ).select("id")


def q18_moving_region_range(spark, sf_dir):
    """TPR moving-REGION range query (MovingRegion.cc velocity-MBR
    algebra): low/high edges extrapolate with separate velocities;
    emit entries whose extrapolated box meets W during MQ.

    Lineage barrier before the 8-halfline predicate (the q49/q10
    pattern — each coordinate/velocity referenced many times; measured
    4.6 s → 0.47 s at sf0.1)."""
    td.register_views(spark, sf_dir)
    mr = spark.sql(td.MOVING_REGIONS_SQL).localCheckpoint(eager=False)
    return temporal.moving_region_range_query(mr, *W, *MQ).select("id")


# Per-process memo of the stored temporal layouts (build-once/query-many;
# MVRTree/TPRTree are persisted structures, MVRTree.cc:1295-1304).
_TEMPORAL_IDX: dict[tuple[str, str], object] = {}


def _temporal_path(sf_dir: str, kind: str) -> str:
    import hashlib
    import os
    import tempfile

    src = f"{sf_dir}/lineitem.parquet"
    tag = hashlib.md5(
        f"{sf_dir}|{kind}|{os.path.getmtime(src)}|layout-v2".encode()
    ).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_t_{tag}")


def _version_index(spark, sf_dir):
    from libspatialindex_spark.operators import temporal_index as ti

    key = (sf_dir, "versions")
    if key in _TEMPORAL_IDX:
        return _TEMPORAL_IDX[key]
    path = _temporal_path(sf_dir, "versions")
    try:
        idx = ti.load_version_index(spark, path)
    except FileNotFoundError:
        vers = temporal.versions_from_ops(td.mvr_ops(spark, sf_dir))
        idx = ti.build_version_index(vers, path, n_tbuckets=16)
    _TEMPORAL_IDX[key] = idx
    return idx


def _moving_index(spark, sf_dir, regions: bool):
    from libspatialindex_spark.operators import temporal_index as ti

    kind = "regions" if regions else "points"
    key = (sf_dir, kind)
    if key in _TEMPORAL_IDX:
        return _TEMPORAL_IDX[key]
    path = _temporal_path(sf_dir, kind)
    try:
        idx = ti.load_moving_index(spark, path)
    except FileNotFoundError:
        td.register_views(spark, sf_dir)
        if regions:
            mr = spark.sql(td.MOVING_REGIONS_SQL)
            idx = ti.build_moving_index(
                mr, path, bits=3, lo=("xmin", "ymin"), hi=("xmax", "ymax"),
                vlo=("vxlo", "vylo"), vhi=("vxhi", "vyhi"),
            )
        else:
            mov = spark.sql(td.MOVING_SQL)
            idx = ti.build_moving_index(mov, path, bits=3)
    _TEMPORAL_IDX[key] = idx
    return idx


def q46_time_range_stored(spark, sf_dir):
    """Q9 through the STORED time-bucketed layout: driver-side live-root
    selection (bucket time envelopes + MBRs) → partition filter → exact
    predicates.  Same result set as q09 — same oracle."""
    from libspatialindex_spark.operators import temporal_index as ti

    idx = _version_index(spark, sf_dir)
    out, _io = ti.time_range_query_stored(idx, *W, *TQ)
    return out.select("id")


def q47_moving_range_stored(spark, sf_dir):
    """Q10 through the STORED velocity-enveloped layout (TPR node visit):
    bucket box + velocity envelopes prune, exact t-interval predicate on
    the survivors.  Same result set as q10 — same oracle."""
    from libspatialindex_spark.operators import temporal_index as ti

    idx = _moving_index(spark, sf_dir, regions=False)
    out, _io = ti.moving_range_query_stored(idx, *W, *MQ)
    return out.select("id")


def q48_moving_region_stored(spark, sf_dir):
    """Q18 (MovingRegion algebra) through the stored moving layout with
    per-edge velocity envelopes.  Same result set as q18 — same oracle."""
    from libspatialindex_spark.operators import temporal_index as ti

    idx = _moving_index(spark, sf_dir, regions=True)
    out, _io = ti.moving_range_query_stored(idx, *W, *MQ)
    return out.select("id")


def q19_knn_join(spark, sf_dir):
    """Batch kNN (kNN join) — the reference's test1 workload (N queries ×
    10NN) as one job: iterative radius doubling over unresolved queries,
    cell equi-join candidates, per-query tie-inclusive threshold."""
    rel = _rects_rel(spark, sf_dir, mat=True, spread=True)
    td.register_views(spark, sf_dir)
    q = spark.sql(
        f"SELECT qid, qxmin AS qx, qymin AS qy FROM ({td.WINDOWS_SQL.strip()})"
    )
    return knn.knn_join(rel, q, K)


def q20_pip_join(spark, sf_dir):
    pts = td.points(spark, sf_dir)
    pol = td.polys(spark, sf_dir)
    return spatial_join.point_in_box_join(
        pts, pol, "x", "y", POLY_BOX, CONF, broadcast_boxes=True
    ).select("id", "poly_id")


def q21_tile_assign(spark, sf_dir):
    pts = td.points(spark, sf_dir)
    tile = curves.cell_id(F.col("x"), F.col("y"), CONF, bits=CONF.tile_bits)
    return pts.withColumn("tile_id", tile).select("id", "tile_id")


def q22_pip_count_by_poly(spark, sf_dir):
    j = q20_pip_join(spark, sf_dir)
    return j.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n"))


def q23_pip_join_salted(spark, sf_dir):
    """Same result set as q20 via the salted shuffle-join path (skew
    handling: LISA tie-advance precedent).  ``salt="auto"`` exercises the
    STATS-DRIVEN path: the per-cell histogram finds the hottest cell
    and derives the fan-out from ``hot_cell_threshold`` (set low here so
    the salted plan actually runs at gate scale) — the knob is wired,
    not caller-guessed.  (r6: the sentinel moved from ``None`` to
    ``"auto"`` so plain callers keep the cheap unsalted default, and the
    salted join itself is a distributed shuffled-hash build instead of a
    driver-side broadcast of the ×salt-exploded layer — ADVICE r5 #5 +
    guide §3.1.)"""
    pts = td.points(spark, sf_dir)
    pol = td.polys(spark, sf_dir)
    return spatial_join.point_in_box_join(
        pts, pol, "x", "y", POLY_BOX, CONF,
        broadcast_boxes=False, salt="auto", hot_cell_threshold=4,
    ).select("id", "poly_id")


ANN_K = 20
LSH_BANDS, LSH_ROWS = 20, 4  # q44 banded sign-LSH config (θ=0.4, recall≥0.98)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q30_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


def q31_token_count(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", text.token_count("text").alias("n_tokens"))


def q38_token_bpe(spark, sf_dir):
    """BPE-ish token estimate (regex lex + ceil(len/4) subwords)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", text.token_count_bpe("text").alias("n_bpe"))


def q32_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    feats = text.quality_features("text")
    return d.select(
        "doc_id",
        feats["n_chars"].alias("len_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_word_len"].alias("mean_word_len"),
        feats["stopword_density"].alias("stopword_density"),
    )


def q33_langid(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", text.lang_id("text").alias("lang_guess"))


def q34_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", text.fingerprint("text").alias("fp"))


def q39_winnow_fingerprint(spark, sf_dir):
    """Rolling-hash (bottom-k / winnowing) document sketch: 8 smallest
    k-gram h60 hashes per doc, one row per (doc, rank) so the exact
    compare sees scalars."""
    # spread(): the gram-hash sketch is CPU-bound and the bench documents
    # table reads as ONE split — without core-wide input the whole
    # md5/sort stage runs on one core (measured 3.1 s → 0.38 s at sf0.1);
    # at real scale the scan is already wide and spread() is a no-op.
    d = td.spread(_docs(spark, sf_dir), "doc_id")
    fp = text.winnow_fingerprint("text", k=8, s=8)
    return d.select("doc_id", F.posexplode(fp).alias("rank0", "h")).select(
        "doc_id", (F.col("rank0") + 1).alias("rank"), "h"
    )


# Memoized verified minhash pair set (the q44/q52 sharing pattern): q35
# and q37 run the IDENTICAL pair job (same shingle/hash/band config); the
# localCheckpointed result is computed once per sf_dir and q37 pays only
# the connected-components cost.
_MINHASH_PAIRS: dict[str, DataFrame] = {}


def _minhash_pairs(spark, sf_dir) -> DataFrame:
    if sf_dir not in _MINHASH_PAIRS:
        _MINHASH_PAIRS[sf_dir] = dedup.minhash_lsh_pairs(
            _docs(spark, sf_dir), k=8, n_hashes=16, bands=4,
            threshold=0.4, portable=True,
        )
    return _MINHASH_PAIRS[sf_dir]


def q35_minhash_pairs(spark, sf_dir):
    return _minhash_pairs(spark, sf_dir)


def q36_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: lossless pigeonhole blocking (h+1 = 9 bit
    blocks) means the blocked result EQUALS brute force — the oracle
    computes signatures in SQL and compares all pairs directly."""
    return dedup.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=8)


def q37_dedup_groups(spark, sf_dir):
    """Near-dup GROUPS: minhash pairs → connected components (iterative
    min-label propagation; the canonical keep-one-per-component dedup).
    Oracle computes components via a recursive transitive-closure CTE
    over the same (oracle-exact) pair set."""
    return dedup.connected_components(_minhash_pairs(spark, sf_dir))


def _qvec(spark, sf_dir):
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(v) for v in row["embedding"]]


def q40_ann_quantized(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.ann_topk_quantized(emb, _qvec(spark, sf_dir), ANN_K)


def q41_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-k on quantized arithmetic: integer dot/norms,
    one float division — bit-identical cross-engine, tie-inclusive."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.ann_topk_cosine_quantized(emb, _qvec(spark, sf_dir), ANN_K)


def q42_ann_lsh(spark, sf_dir):
    """LSH-pruned cosine top-k through the STORED index: the signature is
    a materialized, within-list-sorted column (``_sig IN probes`` hits
    parquet row-group zone maps), Hamming ≤ 2 multiprobe, quantized exact
    re-rank on stored columns.  Results identical to the in-flight
    ``similarity.ann_lsh_cosine`` — fully oracle-checkable."""
    from libspatialindex_spark.operators import ann_index

    idx = _ann_index(spark, sf_dir)
    return ann_index.ann_lsh_cosine_stored(idx, _qvec(spark, sf_dir), ANN_K)


IVF_STRIDE, IVF_PROBE, IVF_TRAIN_STRIDE = 31, 6, 1

# Per-process memo of the stored ANN index (build-once / query-many — the
# reference's loadRTree contract): q42/q44/q45 share one build per sf_dir.
_ANN_IDX: dict[str, object] = {}


def _ann_index(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from libspatialindex_spark.operators import ann_index

    if sf_dir in _ANN_IDX:
        return _ANN_IDX[sf_dir]
    src = f"{sf_dir}/embeddings.parquet"
    # Build parameters are part of the cache key (ADVICE r4 on _nd_index
    # — same fix here): changing them misses the on-disk memo instead of
    # silently reusing a stale layout/centroid set.
    build_kwargs = {
        "stride": IVF_STRIDE, "train_stride": 1, "lloyd_rounds": 2,
        "bands": LSH_BANDS, "rows_per_band": LSH_ROWS,
        "n_planes": 8, "seed": 42,
    }
    tag = hashlib.md5(
        f"{sf_dir}|{os.path.getmtime(src)}|{sorted(build_kwargs.items())!r}"
        "|layout-v3".encode()
    ).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_ann_{tag}")
    try:
        idx = ann_index.load_ann_index(spark, path)
    except FileNotFoundError:
        idx = ann_index.build_ann_index(
            spark.read.parquet(src), path, **build_kwargs
        )
    _ANN_IDX[sf_dir] = idx
    return idx


def q45_ann_ivf(spark, sf_dir):
    """IVF ANN through the STORED index (build-once, partition-pruned):
    cells are ``partitionBy`` directories, the probe set comes from the
    manifest centroids, the re-rank reads materialized quantized columns.
    Centroids = sampled-data coarse quantizer (vec_id % 31 == 0), so the
    oracle reconstructs them from the same table; results are identical to
    the in-flight ``similarity.ann_ivf_cosine``."""
    from libspatialindex_spark.operators import ann_index

    idx = _ann_index(spark, sf_dir)
    return ann_index.ann_ivf_cosine_stored(
        idx, _qvec(spark, sf_dir), ANN_K, n_probe=IVF_PROBE
    )


def q43_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs on quantized vectors (exact oracle)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.quantized_cosine_pairs(emb, threshold=0.4)


# Per-process memo of the verified stored-LSH pair set (VERDICT r3 #2:
# q52 re-ran q44's whole band-explode + self-join + verify — the expensive
# stage — instead of reusing its localCheckpointed result).  Keyed like
# _ANN_IDX; the checkpoint blocks stay alive as long as this reference does,
# so the groups query pays only the connected-components cost.
_STORED_PAIRS: dict[tuple[str, float], DataFrame] = {}


def _stored_pairs(spark, sf_dir, threshold: float = 0.4) -> DataFrame:
    from libspatialindex_spark.operators import ann_index

    key = (sf_dir, threshold)
    if key not in _STORED_PAIRS:
        idx = _ann_index(spark, sf_dir)
        _STORED_PAIRS[key] = ann_index.lsh_near_dup_pairs_stored(
            idx, threshold=threshold
        )
    return _STORED_PAIRS[key]


def q44_embed_near_dup_lsh(spark, sf_dir):
    """Banded sign-LSH embedding near-dup (the scale path) through the
    STORED index: band keys, quantized vectors and norms are materialized
    build-time columns — no signature recompute per query.  B=20 bands ×
    r=4 quantized planes, union candidates across bands, exact quantized-
    cosine verify.  Oracle replicates the banding bit-for-bit in SQL."""
    return _stored_pairs(spark, sf_dir, threshold=0.4)


def q52_embed_dedup_groups(spark, sf_dir):
    """Embedding near-dup GROUPS: the stored-index banded sign-LSH pairs
    (q44's scale path, shared via the _stored_pairs memo — the pair job
    runs once per (sf_dir, threshold)) → connected components →
    (vec_id, component_id) — the end-to-end keep-one-per-cluster dedup
    for an embedding corpus.  Oracle = recursive transitive closure over
    the q44 oracle pair set."""
    pairs = _stored_pairs(spark, sf_dir, threshold=0.4)
    return dedup.connected_components(pairs).withColumnRenamed(
        "doc_id", "vec_id"
    )


def q50_event_hourly_rollup(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.hourly_rollup(ev)


def q51_user_sessions(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.session_counts(ev, gap_seconds=1800)


def q57_audio_features(spark, sf_dir):
    """REAL audio decode + features (the multimodal audio de-stub): one
    deterministic mono PCM-16 WAV clip per document, encoded AND decoded
    by the pure-Python codec (sources/wav.py) inside Arrow-batched
    stages, reduced to duration / RMS / zero-crossing rate / peak.  The
    oracle reproduces every sample in closed form (integer arithmetic is
    bit-identical across numpy and DuckDB; PCM16 round-trips losslessly),
    so the feature doubles must match bit-exactly."""
    from libspatialindex_spark.operators import multimodal

    return multimodal.audio_features(td.audio_clips(spark, sf_dir))


def q59_audio_resample(spark, sf_dir):
    """Resample operator under the oracle gate: synth WAV clips are
    linear-interpolation resampled 16 kHz → 8 kHz (real decode →
    interpolate → re-encode round trip), then reduced by the same
    feature kernel as q57.  Every interpolation step is IEEE-replicable
    in SQL (exact-integer position numerator, literal-order interpolant,
    floor(v+0.5) rounding), so the resampled features match bit-exactly."""
    from libspatialindex_spark.operators import multimodal

    clips = td.audio_clips(spark, sf_dir)
    return multimodal.audio_features(
        multimodal.audio_resample(clips, 8_000)
    )


def q58_video_frames(spark, sf_dir):
    """REAL video container + frame features (the multimodal video
    de-stub): one deterministic uncompressed-DIB AVI per document
    (sources/avi.py), frame-sampled every 2nd frame, each sampled frame
    re-encoded PNG and reduced to mean/max intensity.  Every pixel is a
    closed-form integer function of (video_id, frame, y, x, channel) and
    both containers are lossless, so the oracle reproduces the features
    bit-exactly from generate_series alone."""
    from libspatialindex_spark.operators import multimodal

    clips = td.video_clips(spark, sf_dir)
    return multimodal.frame_features(
        multimodal.video_frame_sample(clips, every=2)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_range_intersects": q01_range_intersects,
        "q02_containment": q02_containment,
        "q03_point_location": q03_point_location,
        "q04_knn": q04_knn,
        "q53_knn_box": q53_knn_box,
        "q54_knn_segment": q54_knn_segment,
        "q05_self_join": q05_self_join,
        "q06_bounds": q06_bounds,
        "q07_count_range": q07_count_range,
        "q08_key_range": q08_key_range,
        "q11_internal_nodes": q11_internal_nodes,
        "q12_ball_range": q12_ball_range,
        "q13_segment_range": q13_segment_range,
        "q14_batch_queries": q14_batch_queries,
        "q49_segment_segment": q49_segment_segment,
        "q15_count_contains": q15_count_contains,
        "q16_3d_range": q16_3d_range,
        "q17_3d_knn": q17_3d_knn,
        "q55_3d_knn_box": q55_3d_knn_box,
        "q56_3d_range_stored": q56_3d_range_stored,
        "q09_time_range": q09_time_range,
        "q10_moving_range": q10_moving_range,
        "q18_moving_region_range": q18_moving_region_range,
        "q46_time_range_stored": q46_time_range_stored,
        "q47_moving_range_stored": q47_moving_range_stored,
        "q48_moving_region_stored": q48_moving_region_stored,
        "q19_knn_join": q19_knn_join,
        "q20_pip_join": q20_pip_join,
        "q21_tile_assign": q21_tile_assign,
        "q22_pip_count_by_poly": q22_pip_count_by_poly,
        "q23_pip_join_salted": q23_pip_join_salted,
        "q30_exact_dedup": q30_exact_dedup,
        "q31_token_count": q31_token_count,
        "q32_quality": q32_quality,
        "q33_langid": q33_langid,
        "q34_fingerprint": q34_fingerprint,
        "q35_minhash_pairs": q35_minhash_pairs,
        "q36_simhash_pairs": q36_simhash_pairs,
        "q37_dedup_groups": q37_dedup_groups,
        "q38_token_bpe": q38_token_bpe,
        "q39_winnow_fingerprint": q39_winnow_fingerprint,
        "q40_ann_quantized": q40_ann_quantized,
        "q41_ann_cosine": q41_ann_cosine,
        "q42_ann_lsh": q42_ann_lsh,
        "q45_ann_ivf": q45_ann_ivf,
        "q43_embed_near_dup": q43_embed_near_dup,
        "q44_embed_near_dup_lsh": q44_embed_near_dup_lsh,
        "q52_embed_dedup_groups": q52_embed_dedup_groups,
        "q50_event_hourly_rollup": q50_event_hourly_rollup,
        "q51_user_sessions": q51_user_sessions,
        "q57_audio_features": q57_audio_features,
        "q58_video_frames": q58_video_frames,
        "q59_audio_resample": q59_audio_resample,
    }


# ---------------------------------------------------------------- oracles --

_R = td.RECTS_SQL.strip()
_P = td.POINTS_SQL.strip()
_G = td.POLYS_SQL.strip()


def _occ(t: str, needle: str) -> str:
    """DuckDB replica of text.occurrences (replace trick, int division)."""
    esc = needle.replace("'", "''")
    return (
        f"CAST((length({t}) - length(replace({t}, '{esc}', ''))) "
        f"/ {len(needle)} AS BIGINT)"
    )


_COLLAPSED = "regexp_replace(text, '[^ ]+', 'w', 'g')"
_NTOK = (
    f"CAST(length({_COLLAPSED}) "
    f"- length(regexp_replace({_COLLAPSED}, 'w', '', 'g')) AS BIGINT)"
)
_H60 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"


def _lang_oracle() -> str:
    pads = "(' ' || text || ' ')"
    score = {
        lang: " + ".join(_occ(pads, f" {w} ") for w in words)
        for lang, words in text.LANG_MARKERS.items()
    }
    sel = ", ".join(f"({v}) AS s_{k}" for k, v in score.items())
    best = "GREATEST(" + ", ".join(f"s_{k}" for k in score) + ")"
    case = "CASE"
    for lang in sorted(score):  # alphabetical-first wins ties (engine parity)
        case += f" WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'"
    case += " ELSE 'und' END"
    return f"""
        WITH s AS (SELECT doc_id, {sel} FROM documents)
        SELECT doc_id, {case} AS lang_guess FROM s
    """


def _minhash_oracle() -> str:
    m61 = dedup.MERSENNE61
    h = _H60.format(s="g")
    sig_exprs = ", ".join(
        f"list_min(list_transform(hv, h -> (h * {a} + {b}) % {m61})) AS s{j}"
        for j, (a, b) in enumerate(dedup.MINHASH_PARAMS[:16])
    )
    r = 4  # 16 hashes / 4 bands
    band_keys = ", ".join(
        f"[{', '.join(f's{b * r + i}' for i in range(r))}] AS bk{b}"
        for b in range(4)
    )
    band_joins = "\nUNION\n".join(
        f"SELECT a.doc_id AS id1, b.doc_id AS id2 FROM sig a, sig b "
        f"WHERE a.bk{b} = b.bk{b} AND a.doc_id < b.doc_id"
        for b in range(4)
    )
    return f"""
        WITH sh AS (
          SELECT doc_id,
            list_distinct(CASE WHEN length(text) < 8 THEN [text]
              ELSE list_transform(generate_series(1, length(text) - 7),
                                  i -> substring(text, i, 8)) END) AS grams
          FROM documents
        ),
        hs AS (
          SELECT doc_id, grams,
                 list_transform(grams, g -> {h}) AS hv
          FROM sh
        ),
        sig0 AS (SELECT doc_id, grams, {sig_exprs} FROM hs),
        sig AS (SELECT *, {band_keys} FROM sig0),
        cand AS ({band_joins}),
        verified AS (
          SELECT c.id1, c.id2,
            CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
              AS jaccard
          FROM cand c
          JOIN sh a ON a.doc_id = c.id1
          JOIN sh b ON b.doc_id = c.id2
        )
        SELECT id1, id2, jaccard FROM verified WHERE jaccard >= 0.4
    """


def _dedup_groups_oracle() -> str:
    """q37: transitive closure over the minhash pair set (recursive CTE —
    fine at oracle scale), component id = min reachable id (incl. self)."""
    return f"""
        WITH RECURSIVE p AS ({_minhash_oracle().strip()}),
        edges AS (
          SELECT id1 AS a, id2 AS b FROM p
          UNION
          SELECT id2 AS a, id1 AS b FROM p
        ),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
        FROM reach GROUP BY a
    """


def _simhash_oracle(max_hamming: int = 8) -> str:
    """Brute-force SimHash oracle: replicate ``simhash60_py`` (md5-derived
    60-bit gram hashes, per-bit majority vote) in SQL, then compare ALL
    pairs by exact Hamming — the Spark side's pigeonhole blocking is
    lossless, so the sets must be equal."""
    h = _H60.format(s="g")
    # per-bit majority: votes_b > 0  ⟺  2·ones_b > n_grams
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * list_aggregate(list_transform(hv, "
        f"h -> (h >> {b}) & 1), 'sum') > len(hv) "
        f"THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(60)
    )
    return f"""
        WITH sh AS (
          SELECT doc_id,
            list_distinct(CASE WHEN length(text) < 8 THEN [text]
              ELSE list_transform(generate_series(1, length(text) - 7),
                                  i -> substring(text, i, 8)) END) AS grams
          FROM documents
        ),
        hs AS (
          SELECT doc_id, list_transform(grams, g -> {h}) AS hv FROM sh
        ),
        sig AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS s FROM hs)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
        FROM sig a, sig b
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.s, b.s)) <= {max_hamming}
    """


def _ann_oracle() -> str:
    qd = (
        "(CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 100000.0 + 0.5) AS BIGINT)"
        " - CAST(FLOOR(CAST(q.qe[i] AS DOUBLE) * 100000.0 + 0.5) AS BIGINT))"
    )
    return f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        d AS (
          SELECT e.vec_id,
            CAST(list_aggregate(
              list_transform(generate_series(1, len(e.embedding)),
                             i -> {qd} * {qd}), 'sum') AS BIGINT) AS qdist
          FROM embeddings e, q
        ),
        kth AS (
          SELECT MAX(qdist) AS kd
          FROM (SELECT qdist FROM d ORDER BY qdist LIMIT {ANN_K})
        )
        SELECT vec_id, qdist FROM d WHERE qdist <= (SELECT kd FROM kth)
    """

# Quantized-vector CTE shared by the embedding oracles (q41-q44): exact
# integer lattice, replicating similarity._quant.
_QV = """
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(FLOOR(CAST(e AS DOUBLE) * 100000.0 + 0.5) AS BIGINT)) AS q
  FROM embeddings
"""

_N2 = "CAST(list_aggregate(list_transform(q, v -> v * v), 'sum') AS BIGINT)"


def _planes_values(planes) -> str:
    """Integer hyperplanes as a DuckDB VALUES relation pl(p, w)."""
    rows = ", ".join(
        f"({p}, [{', '.join(str(int(w)) for w in plane)}])"
        for p, plane in enumerate(planes)
    )
    return f"(VALUES {rows}) pl(p, w)"


_PLANE_DOT = (
    "CAST(list_aggregate(list_transform(generate_series(1, 64), "
    "i -> v.q[i] * pl.w[i]), 'sum') AS BIGINT)"
)


def _ann_cosine_oracle() -> str:
    """q41: tie-inclusive top-k by quantized cosine vs vec 0."""
    return f"""
        WITH qv AS ({_QV}),
        n AS (SELECT vec_id, q, {_N2} AS n2 FROM qv),
        qside AS (SELECT q AS qq, n2 AS qn2 FROM n WHERE vec_id = 0),
        d AS (
          SELECT n.vec_id,
            CAST(CAST(list_aggregate(
              list_transform(generate_series(1, 64),
                             i -> n.q[i] * qside.qq[i]), 'sum') AS BIGINT)
                 AS DOUBLE)
              / SQRT(CAST(n.n2 AS DOUBLE) * CAST(qside.qn2 AS DOUBLE))
              AS cos_q
          FROM n, qside
        ),
        kth AS (
          SELECT MIN(cos_q) AS kd
          FROM (SELECT cos_q FROM d ORDER BY cos_q DESC LIMIT {ANN_K})
        )
        SELECT vec_id, cos_q FROM d WHERE cos_q >= (SELECT kd FROM kth)
    """


def _ann_lsh_oracle() -> str:
    """q42: quantized-plane sign signature, Hamming ≤ 2 probe set around
    vec 0's signature, tie-inclusive quantized-cosine top-k on candidates."""
    planes = similarity.quantized_planes(64, 8, seed=42)
    return f"""
        WITH qv AS ({_QV}),
        sigs AS (
          SELECT v.vec_id,
            CAST(SUM(CASE WHEN {_PLANE_DOT} > 0
                     THEN (1 << pl.p) ELSE 0 END) AS BIGINT) AS sig
          FROM qv v, {_planes_values(planes)}
          GROUP BY v.vec_id
        ),
        qsig AS (SELECT sig AS s0 FROM sigs WHERE vec_id = 0),
        n AS (SELECT vec_id, q, {_N2} AS n2 FROM qv),
        qside AS (SELECT q AS qq, n2 AS qn2 FROM n WHERE vec_id = 0),
        cand AS (
          SELECT s.vec_id FROM sigs s, qsig
          WHERE bit_count(xor(s.sig, qsig.s0)) <= 2
        ),
        d AS (
          SELECT n.vec_id,
            CAST(CAST(list_aggregate(
              list_transform(generate_series(1, 64),
                             i -> n.q[i] * qside.qq[i]), 'sum') AS BIGINT)
                 AS DOUBLE)
              / SQRT(CAST(n.n2 AS DOUBLE) * CAST(qside.qn2 AS DOUBLE))
              AS cos_q
          FROM n, qside
          WHERE n.vec_id IN (SELECT vec_id FROM cand)
        ),
        kth AS (
          SELECT MIN(cos_q) AS kd
          FROM (SELECT cos_q FROM d ORDER BY cos_q DESC LIMIT {ANN_K})
        )
        SELECT vec_id, cos_q FROM d WHERE cos_q >= (SELECT kd FROM kth)
    """


def _ann_ivf_oracle() -> str:
    """q45: full reconstruction of the seeded integer-Lloyd k-means
    (``similarity.ivf_kmeans_centroids`` — VERDICT r4 #4): init = every
    31st training row in vec_id order, two unrolled Lloyd rounds
    (assignment by exact int64 L2 with (dist, j) tie order; update =
    per-dimension TRUNCATED mean, DuckDB ``//`` and numpy's
    sign·(|s|//n) both truncate toward zero; empty clusters keep their
    centroid), then assignment of the full table, probe set = n_probe
    nearest lists to vec 0, tie-inclusive quantized-cosine top-k.  Every
    step is integer math, so the centroids — not just the result — are a
    cross-engine fact."""

    def dist(qexpr: str, cexpr: str) -> str:
        return (
            "CAST(list_aggregate(list_transform(generate_series(1, 64), "
            f"i -> ({qexpr}[i] - {cexpr}[i]) * ({qexpr}[i] - {cexpr}[i])"
            "), 'sum') AS BIGINT)"
        )

    def lloyd_round(prev: str, nxt: str) -> str:
        """One assignment+update round: centroids ``prev``(j, cq) →
        ``nxt``(j, cq)."""
        return f"""
        a_{nxt} AS (
          SELECT vec_id, j FROM (
            SELECT s.vec_id, c.j,
              ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                 ORDER BY {dist("s.q", "c.cq")}, c.j) AS rk
            FROM samp s, {prev} c
          ) WHERE rk = 1
        ),
        u_{nxt} AS (
          SELECT a.j, d.i,
            CAST(SUM(s.q[d.i]) AS BIGINT) // COUNT(*) AS cm
          FROM a_{nxt} a JOIN samp s USING (vec_id),
               generate_series(1, 64) AS d(i)
          GROUP BY a.j, d.i
        ),
        g_{nxt} AS (SELECT j, list(cm ORDER BY i) AS cq FROM u_{nxt} GROUP BY j),
        {nxt} AS (
          SELECT p.j, COALESCE(g.cq, p.cq) AS cq
          FROM {prev} p LEFT JOIN g_{nxt} g USING (j)
        )"""

    cdist = dist("v.q", "ct.cq")
    return f"""
        WITH qv AS ({_QV}),
        samp AS (
          SELECT vec_id, q, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rn
          FROM qv WHERE vec_id % {IVF_TRAIN_STRIDE} = 0
        ),
        c0 AS (
          SELECT rn // {IVF_STRIDE} AS j, q AS cq
          FROM samp WHERE rn % {IVF_STRIDE} = 0
        ),
        {lloyd_round("c0", "c1")},
        {lloyd_round("c1", "c2")},
        ct AS (SELECT j AS c, cq FROM c2),
        d AS (SELECT v.vec_id, ct.c, {cdist} AS dist FROM qv v, ct),
        assign AS (
          SELECT vec_id, c FROM (
            SELECT vec_id, c,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
            FROM d
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT c FROM d WHERE vec_id = 0 ORDER BY dist, c LIMIT {IVF_PROBE}
        ),
        n AS (SELECT vec_id, q, {_N2} AS n2 FROM qv),
        qside AS (SELECT q AS qq, n2 AS qn2 FROM n WHERE vec_id = 0),
        cand AS (
          SELECT vec_id FROM assign WHERE c IN (SELECT c FROM probes)
        ),
        dd AS (
          SELECT n.vec_id,
            CAST(CAST(list_aggregate(
              list_transform(generate_series(1, 64),
                             i -> n.q[i] * qside.qq[i]), 'sum') AS BIGINT)
                 AS DOUBLE)
              / SQRT(CAST(n.n2 AS DOUBLE) * CAST(qside.qn2 AS DOUBLE))
              AS cos_q
          FROM n, qside
          WHERE n.vec_id IN (SELECT vec_id FROM cand)
        ),
        kth AS (
          SELECT MIN(cos_q) AS kd
          FROM (SELECT cos_q FROM dd ORDER BY cos_q DESC LIMIT {ANN_K})
        )
        SELECT vec_id, cos_q FROM dd WHERE cos_q >= (SELECT kd FROM kth)
    """


def _lsh_near_dup_oracle() -> str:
    """q44: full replication of the banded sign-LSH — B×r quantized-plane
    sign bits per vector, r-bit band keys, candidates = union over bands of
    exact key matches, quantized-cosine verify ≥ 0.4.  Every step is
    integer math (one final float div/sqrt), so the candidate set — not
    just the verified output — is a cross-engine fact."""
    planes = similarity.quantized_planes(64, LSH_BANDS * LSH_ROWS, seed=42)
    return f"""
        WITH qv AS ({_QV}),
        keys AS (
          SELECT v.vec_id, pl.p // {LSH_ROWS} AS band,
            CAST(SUM(CASE WHEN {_PLANE_DOT} > 0
                     THEN (1 << (pl.p % {LSH_ROWS})) ELSE 0 END) AS BIGINT)
              AS bkey
          FROM qv v, {_planes_values(planes)}
          GROUP BY v.vec_id, pl.p // {LSH_ROWS}
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
          FROM keys a JOIN keys b
            ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
        ),
        n AS (SELECT vec_id, q, {_N2} AS n2 FROM qv),
        p AS (
          SELECT c.id1, c.id2,
            CAST(list_aggregate(
              list_transform(generate_series(1, 64),
                             i -> a.q[i] * b.q[i]), 'sum') AS BIGINT) AS dot,
            a.n2 AS na, b.n2 AS nb
          FROM cand c
          JOIN n a ON a.vec_id = c.id1
          JOIN n b ON b.vec_id = c.id2
        )
        SELECT id1, id2,
          CAST(dot AS DOUBLE)
            / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos_q
        FROM p
        WHERE CAST(dot AS DOUBLE)
            / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4
    """


def _halfline_sql(c0: str, c1: str, bound: float, upper: bool):
    """SQL replica of temporal._halfline: feasible t-interval of the
    linear constraint c0 + c1·t ≤/≥ bound (±1e18 sentinels)."""
    t = f"(({bound}) - {c0}) / {c1}"
    cmp_ = "<=" if upper else ">="
    lo = (
        f"CASE WHEN {c1} = 0.0 THEN "
        f"(CASE WHEN {c0} {cmp_} {bound} THEN -1e18 ELSE 1e18 END) "
        f"WHEN {c1} > 0.0 THEN {'-1e18' if upper else t} "
        f"ELSE {t if upper else '-1e18'} END"
    )
    hi = (
        f"CASE WHEN {c1} = 0.0 THEN "
        f"(CASE WHEN {c0} {cmp_} {bound} THEN 1e18 ELSE -1e18 END) "
        f"WHEN {c1} > 0.0 THEN {t if upper else '1e18'} "
        f"ELSE {'1e18' if upper else t} END"
    )
    return lo, hi


def _moving_region_oracle() -> str:
    lx1, hx1 = _halfline_sql("xmin", "vxlo", W[2], upper=True)
    lx2, hx2 = _halfline_sql("xmax", "vxhi", W[0], upper=False)
    ly1, hy1 = _halfline_sql("ymin", "vylo", W[3], upper=True)
    ly2, hy2 = _halfline_sql("ymax", "vyhi", W[1], upper=False)
    return f"""
        WITH mr AS ({td.MOVING_REGIONS_SQL.strip()}),
        iv AS (
          SELECT id,
            GREATEST({lx1}, {lx2}, {ly1}, {ly2}, {MQ[0]}) AS enter,
            LEAST({hx1}, {hx2}, {hy1}, {hy2}, {MQ[1]}) AS leave
          FROM mr
        )
        SELECT id FROM iv WHERE enter <= leave
    """


def _seg_seg_oracle() -> str:
    """q49: the LineSegment.cc:472-483 decision procedure in SQL — signed
    doubled-triangle areas (exact dyadic arithmetic, bit-identical in both
    engines), proper-crossing XOR tests, one-axis collinear between."""
    ax, ay, bx, by = "xmin", "ymin", "xmax", "ymax"
    cx, cy, dx, dy = (repr(float(v)) for v in SEG)

    def area(px, py, qx, qy, rx, ry):
        return (
            f"(({qx} - {px}) * ({ry} - {py}) - ({rx} - {px}) * ({qy} - {py}))"
        )

    def between(p1x, p1y, p2x, p2y, qx, qy, a):
        onx = f"(({p1x} <= {qx} AND {qx} <= {p2x}) OR ({p1x} >= {qx} AND {qx} >= {p2x}))"
        ony = f"(({p1y} <= {qy} AND {qy} <= {p2y}) OR ({p1y} >= {qy} AND {qy} >= {p2y}))"
        return (
            f"({a} = 0 AND (CASE WHEN {p1x} <> {p2x} THEN {onx} "
            f"ELSE {ony} END))"
        )

    abc = area(ax, ay, bx, by, cx, cy)
    abd = area(ax, ay, bx, by, dx, dy)
    cda = area(cx, cy, dx, dy, ax, ay)
    cdb = area(cx, cy, dx, dy, bx, by)
    proper = (
        f"({abc} <> 0 AND {abd} <> 0 AND {cda} <> 0 AND {cdb} <> 0 "
        f"AND (({abc} > 0) <> ({abd} > 0)) AND (({cda} > 0) <> ({cdb} > 0)))"
    )
    touching = " OR ".join([
        between(ax, ay, bx, by, cx, cy, abc),
        between(ax, ay, bx, by, dx, dy, abd),
        between(cx, cy, dx, dy, ax, ay, cda),
        between(cx, cy, dx, dy, bx, by, cdb),
    ])
    return f"""
        WITH rects AS ({_R})
        SELECT id FROM rects WHERE {proper} OR {touching}
    """


_INTERSECTS_W = (
    f"NOT (xmin > {W[2]} OR xmax < {W[0]}) AND "
    f"NOT (ymin > {W[3]} OR ymax < {W[1]})"
)


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    # q47 runs the identical query over the stored moving layout
    d["q47_moving_range_stored"] = d["q10_moving_range"]
    return d


def _oracle_sql_base() -> dict[str, str]:
    return {
        "q01_range_intersects": f"""
            WITH rects AS ({_R})
            SELECT id, xmin, ymin, xmax, ymax FROM rects
            WHERE {_INTERSECTS_W}
        """,
        "q02_containment": f"""
            WITH rects AS ({_R})
            SELECT id FROM rects
            WHERE {W[0]} <= xmin AND xmax <= {W[2]}
              AND {W[1]} <= ymin AND ymax <= {W[3]}
        """,
        "q03_point_location": f"""
            WITH rects AS ({_R})
            SELECT id FROM rects
            WHERE xmin <= {P[0]} AND {P[0]} <= xmax
              AND ymin <= {P[1]} AND {P[1]} <= ymax
        """,
        "q04_knn": f"""
            WITH rects AS ({_R}),
            d AS (
              SELECT id,
                GREATEST(xmin - {P[0]}, {P[0]} - xmax, 0.0) AS dx,
                GREATEST(ymin - {P[1]}, {P[1]} - ymax, 0.0) AS dy
              FROM rects
            ),
            dd AS (SELECT id, dx * dx + dy * dy AS dist2 FROM d),
            kth AS (
              SELECT MAX(dist2) AS kd
              FROM (SELECT dist2 FROM dd ORDER BY dist2 LIMIT {K})
            )
            SELECT id, dist2 FROM dd WHERE dist2 <= (SELECT kd FROM kth)
        """,
        "q53_knn_box": f"""
            WITH rects AS ({_R}),
            d AS (
              SELECT id,
                GREATEST(xmin - {KBOX[2]}, {KBOX[0]} - xmax, 0.0) AS dx,
                GREATEST(ymin - {KBOX[3]}, {KBOX[1]} - ymax, 0.0) AS dy
              FROM rects
            ),
            dd AS (SELECT id, dx * dx + dy * dy AS dist2 FROM d),
            kth AS (
              SELECT MAX(dist2) AS kd
              FROM (SELECT dist2 FROM dd ORDER BY dist2 LIMIT {K})
            )
            SELECT id, dist2 FROM dd WHERE dist2 <= (SELECT kd FROM kth)
        """,
        "q54_knn_segment": f"""
            WITH rects AS ({_R}),
            dd AS (
              SELECT id,
                CASE WHEN GREATEST(LEAST((xmin - 0.2) / (0.7 - 0.2), (xmax - 0.2) / (0.7 - 0.2)), LEAST((ymin - 0.3) / (0.6 - 0.3), (ymax - 0.3) / (0.6 - 0.3)), 0.0) <= LEAST(GREATEST((xmin - 0.2) / (0.7 - 0.2), (xmax - 0.2) / (0.7 - 0.2)), GREATEST((ymin - 0.3) / (0.6 - 0.3), (ymax - 0.3) / (0.6 - 0.3)), 1.0) THEN 0.0 ELSE LEAST((GREATEST(xmin - 0.2, 0.2 - xmax, 0.0) * GREATEST(xmin - 0.2, 0.2 - xmax, 0.0) + GREATEST(ymin - 0.3, 0.3 - ymax, 0.0) * GREATEST(ymin - 0.3, 0.3 - ymax, 0.0)), (GREATEST(xmin - 0.7, 0.7 - xmax, 0.0) * GREATEST(xmin - 0.7, 0.7 - xmax, 0.0) + GREATEST(ymin - 0.6, 0.6 - ymax, 0.0) * GREATEST(ymin - 0.6, 0.6 - ymax, 0.0)), GREATEST(((xmin - 0.2) * (xmin - 0.2) + (ymin - 0.3) * (ymin - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmin - 0.2) * (0.7 - 0.2) + (ymin - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * (2.0 * ((xmin - 0.2) * (0.7 - 0.2) + (ymin - 0.3) * (0.6 - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmin - 0.2) * (0.7 - 0.2) + (ymin - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3))), 0.0), GREATEST(((xmin - 0.2) * (xmin - 0.2) + (ymax - 0.3) * (ymax - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmin - 0.2) * (0.7 - 0.2) + (ymax - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * (2.0 * ((xmin - 0.2) * (0.7 - 0.2) + (ymax - 0.3) * (0.6 - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmin - 0.2) * (0.7 - 0.2) + (ymax - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3))), 0.0), GREATEST(((xmax - 0.2) * (xmax - 0.2) + (ymin - 0.3) * (ymin - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmax - 0.2) * (0.7 - 0.2) + (ymin - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * (2.0 * ((xmax - 0.2) * (0.7 - 0.2) + (ymin - 0.3) * (0.6 - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmax - 0.2) * (0.7 - 0.2) + (ymin - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3))), 0.0), GREATEST(((xmax - 0.2) * (xmax - 0.2) + (ymax - 0.3) * (ymax - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmax - 0.2) * (0.7 - 0.2) + (ymax - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * (2.0 * ((xmax - 0.2) * (0.7 - 0.2) + (ymax - 0.3) * (0.6 - 0.3)) - LEAST(1.0, GREATEST(0.0, ((xmax - 0.2) * (0.7 - 0.2) + (ymax - 0.3) * (0.6 - 0.3)) / ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3)))) * ((0.7 - 0.2) * (0.7 - 0.2) + (0.6 - 0.3) * (0.6 - 0.3))), 0.0)) END AS dist2
              FROM rects
            ),
            kth AS (
              SELECT MAX(dist2) AS kd
              FROM (SELECT dist2 FROM dd ORDER BY dist2 LIMIT {K})
            )
            SELECT id, dist2 FROM dd WHERE dist2 <= (SELECT kd FROM kth)
        """,
        "q05_self_join": f"""
            WITH rects AS ({_R}),
            w AS (
              SELECT * FROM rects
              WHERE NOT (xmin > {SJW[2]} OR xmax < {SJW[0]})
                AND NOT (ymin > {SJW[3]} OR ymax < {SJW[1]})
            )
            SELECT a.id AS id1, b.id AS id2
            FROM w a, w b
            WHERE a.id <> b.id
              AND NOT (a.xmin > b.xmax OR a.xmax < b.xmin)
              AND NOT (a.ymin > b.ymax OR a.ymax < b.ymin)
        """,
        "q06_bounds": f"""
            WITH rects AS ({_R})
            SELECT MIN(xmin) AS xmin, MIN(ymin) AS ymin,
                   MAX(xmax) AS xmax, MAX(ymax) AS ymax
            FROM rects
        """,
        "q07_count_range": f"""
            WITH rects AS ({_R})
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rects
            WHERE {_INTERSECTS_W}
        """,
        "q08_key_range": f"""
            WITH rects AS ({_R}),
            keyed AS (
              SELECT id,
                CAST(FLOOR(xmin * 1024.0) AS BIGINT) * 1024
                  + CAST(FLOOR(ymin * 1024.0) AS BIGINT) AS gkey
              FROM rects
            )
            SELECT id, gkey FROM keyed WHERE gkey BETWEEN {GK_LO} AND {GK_HI}
        """,
        "q11_internal_nodes": f"""
            WITH rects AS ({_R})
            SELECT CAST(FLOOR(xmin * 256.0) AS BIGINT) * 256
                     + CAST(FLOOR(ymin * 256.0) AS BIGINT) AS node_cell,
                   id
            FROM rects
            WHERE {W[0]} <= xmin AND xmax <= {W[2]}
              AND {W[1]} <= ymin AND ymax <= {W[3]}
        """,
        "q12_ball_range": f"""
            WITH rects AS ({_R}),
            d AS (
              SELECT id,
                GREATEST(xmin - {BALL[0]}, {BALL[0]} - xmax, 0.0) AS dx,
                GREATEST(ymin - {BALL[1]}, {BALL[1]} - ymax, 0.0) AS dy
              FROM rects
            )
            SELECT id FROM d
            WHERE dx * dx + dy * dy <= {BALL[2]} * {BALL[2]}
        """,
        "q13_segment_range": f"""
            WITH rects AS ({_R}),
            iv AS (
              SELECT id,
                LEAST((xmin - {SEG[0]}) / ({SEG[2]} - {SEG[0]}),
                      (xmax - {SEG[0]}) / ({SEG[2]} - {SEG[0]})) AS tx_lo,
                GREATEST((xmin - {SEG[0]}) / ({SEG[2]} - {SEG[0]}),
                         (xmax - {SEG[0]}) / ({SEG[2]} - {SEG[0]})) AS tx_hi,
                LEAST((ymin - {SEG[1]}) / ({SEG[3]} - {SEG[1]}),
                      (ymax - {SEG[1]}) / ({SEG[3]} - {SEG[1]})) AS ty_lo,
                GREATEST((ymin - {SEG[1]}) / ({SEG[3]} - {SEG[1]}),
                         (ymax - {SEG[1]}) / ({SEG[3]} - {SEG[1]})) AS ty_hi
              FROM rects
            )
            SELECT id FROM iv
            WHERE GREATEST(tx_lo, ty_lo, 0.0) <= LEAST(tx_hi, ty_hi, 1.0)
        """,
        "q15_count_contains": f"""
            WITH rects AS ({_R})
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rects
            WHERE {W[0]} <= xmin AND xmax <= {W[2]}
              AND {W[1]} <= ymin AND ymax <= {W[3]}
        """,
        "q49_segment_segment": _seg_seg_oracle(),
        "q14_batch_queries": f"""
            WITH rects AS ({_R}), w AS ({td.WINDOWS_SQL.strip()})
            SELECT w.qid, rects.id
            FROM rects, w
            WHERE NOT (rects.xmin > w.qxmax OR rects.xmax < w.qxmin)
              AND NOT (rects.ymin > w.qymax OR rects.ymax < w.qymin)
        """,
        "q16_3d_range": f"""
            WITH r3 AS ({td.RECTS3D_SQL.strip()})
            SELECT id FROM r3
            WHERE NOT (xmin > {W3_HI[0]} OR xmax < {W3_LO[0]})
              AND NOT (ymin > {W3_HI[1]} OR ymax < {W3_LO[1]})
              AND NOT (wmin > {W3_HI[2]} OR wmax < {W3_LO[2]})
        """,
        "q56_3d_range_stored": f"""
            WITH r3 AS ({td.RECTS3D_SQL.strip()})
            SELECT id FROM r3
            WHERE NOT (xmin > {W3_HI[0]} OR xmax < {W3_LO[0]})
              AND NOT (ymin > {W3_HI[1]} OR ymax < {W3_LO[1]})
              AND NOT (wmin > {W3_HI[2]} OR wmax < {W3_LO[2]})
        """,
        "q17_3d_knn": f"""
            WITH r3 AS ({td.RECTS3D_SQL.strip()}),
            d AS (
              SELECT id,
                GREATEST(xmin - {P3[0]}, {P3[0]} - xmax, 0.0) AS dx,
                GREATEST(ymin - {P3[1]}, {P3[1]} - ymax, 0.0) AS dy,
                GREATEST(wmin - {P3[2]}, {P3[2]} - wmax, 0.0) AS dw
              FROM r3
            ),
            dd AS (SELECT id, dx * dx + dy * dy + dw * dw AS dist2 FROM d),
            kth AS (
              SELECT MAX(dist2) AS kd
              FROM (SELECT dist2 FROM dd ORDER BY dist2 LIMIT {K})
            )
            SELECT id, dist2 FROM dd WHERE dist2 <= (SELECT kd FROM kth)
        """,
        "q55_3d_knn_box": f"""
            WITH r3 AS ({td.RECTS3D_SQL.strip()}),
            d AS (
              SELECT id,
                GREATEST(xmin - {B3_HI[0]}, {B3_LO[0]} - xmax, 0.0) AS dx,
                GREATEST(ymin - {B3_HI[1]}, {B3_LO[1]} - ymax, 0.0) AS dy,
                GREATEST(wmin - {B3_HI[2]}, {B3_LO[2]} - wmax, 0.0) AS dw
              FROM r3
            ),
            dd AS (SELECT id, dx * dx + dy * dy + dw * dw AS dist2 FROM d),
            kth AS (
              SELECT MAX(dist2) AS kd
              FROM (SELECT dist2 FROM dd ORDER BY dist2 LIMIT {K})
            )
            SELECT id, dist2 FROM dd WHERE dist2 <= (SELECT kd FROM kth)
        """,
        "q09_time_range": f"""
            WITH v AS ({td.MVR_VERSIONS_SQL.strip()})
            SELECT DISTINCT id FROM v
            WHERE tstart < {TQ[1]} AND tend > {TQ[0]}
              AND {_INTERSECTS_W}
        """,
        "q10_moving_range": f"""
            WITH mov AS ({td.MOVING_SQL.strip()}),
            iv AS (
              SELECT id,
                CASE WHEN vx = 0.0 THEN
                  CASE WHEN {W[0]} <= x AND x <= {W[2]} THEN -1e18 ELSE 1e18 END
                ELSE LEAST(({W[0]} - x) / vx, ({W[2]} - x) / vx) END AS tx_lo,
                CASE WHEN vx = 0.0 THEN
                  CASE WHEN {W[0]} <= x AND x <= {W[2]} THEN 1e18 ELSE -1e18 END
                ELSE GREATEST(({W[0]} - x) / vx, ({W[2]} - x) / vx) END AS tx_hi,
                CASE WHEN vy = 0.0 THEN
                  CASE WHEN {W[1]} <= y AND y <= {W[3]} THEN -1e18 ELSE 1e18 END
                ELSE LEAST(({W[1]} - y) / vy, ({W[3]} - y) / vy) END AS ty_lo,
                CASE WHEN vy = 0.0 THEN
                  CASE WHEN {W[1]} <= y AND y <= {W[3]} THEN 1e18 ELSE -1e18 END
                ELSE GREATEST(({W[1]} - y) / vy, ({W[3]} - y) / vy) END AS ty_hi
              FROM mov
            )
            SELECT id FROM iv
            WHERE GREATEST(tx_lo, ty_lo, {MQ[0]}) <= LEAST(tx_hi, ty_hi, {MQ[1]})
        """,
        "q18_moving_region_range": _moving_region_oracle(),
        # stored-layout variants: identical semantics → identical oracles
        "q46_time_range_stored": f"""
            WITH v AS ({td.MVR_VERSIONS_SQL.strip()})
            SELECT DISTINCT id FROM v
            WHERE tstart < {TQ[1]} AND tend > {TQ[0]}
              AND {_INTERSECTS_W}
        """,
        "q48_moving_region_stored": _moving_region_oracle(),
        "q19_knn_join": f"""
            WITH rects AS ({_R}), w AS ({td.WINDOWS_SQL.strip()}),
            q AS (SELECT qid, qxmin AS qx, qymin AS qy FROM w),
            d AS (
              SELECT q.qid, r.id,
                GREATEST(r.xmin - q.qx, q.qx - r.xmax, 0.0) AS dx,
                GREATEST(r.ymin - q.qy, q.qy - r.ymax, 0.0) AS dy
              FROM rects r, q
            ),
            dd AS (SELECT qid, id, dx * dx + dy * dy AS dist2 FROM d),
            kth AS (
              SELECT qid, MAX(dist2) AS kd FROM (
                SELECT qid, dist2,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2) AS rn
                FROM dd
              ) WHERE rn <= {K} GROUP BY qid
            )
            SELECT dd.qid, dd.id, dd.dist2
            FROM dd JOIN kth ON dd.qid = kth.qid
            WHERE dd.dist2 <= kth.kd
        """,
        "q20_pip_join": f"""
            WITH pts AS ({_P}), pol AS ({_G})
            SELECT pts.id, pol.poly_id
            FROM pts, pol
            WHERE pxmin <= x AND x <= pxmax AND pymin <= y AND y <= pymax
        """,
        "q21_tile_assign": f"""
            WITH pts AS ({_P})
            SELECT id,
              CAST(FLOOR(x * 64.0) AS BIGINT) * 64
                + CAST(FLOOR(y * 64.0) AS BIGINT) AS tile_id
            FROM pts
        """,
        "q22_pip_count_by_poly": f"""
            WITH pts AS ({_P}), pol AS ({_G})
            SELECT pol.poly_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM pts, pol
            WHERE pxmin <= x AND x <= pxmax AND pymin <= y AND y <= pymax
            GROUP BY pol.poly_id
        """,
        "q23_pip_join_salted": f"""
            WITH pts AS ({_P}), pol AS ({_G})
            SELECT pts.id, pol.poly_id
            FROM pts, pol
            WHERE pxmin <= x AND x <= pxmax AND pymin <= y AND y <= pymax
        """,
        "q30_exact_dedup": """
            SELECT md5(text) AS dup_key, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
                   CAST(COUNT(*) AS BIGINT) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "q31_token_count": f"""
            SELECT doc_id, {_NTOK} AS n_tokens FROM documents
        """,
        "q32_quality": f"""
            WITH f AS (
              SELECT doc_id,
                CAST(length(text) AS BIGINT) AS len_chars,
                {_occ('text', ' ')} AS n_spaces,
                {_NTOK} AS n_tokens,
                {_occ('text', ' the ')} + {_occ('text', ' and ')}
                  + {_occ('text', ' of ')} + {_occ('text', ' a ')} AS stop
              FROM documents
            )
            SELECT doc_id, len_chars, n_tokens,
              CAST(len_chars - n_spaces AS DOUBLE)
                / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS mean_word_len,
              CAST(stop AS DOUBLE)
                / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS stopword_density
            FROM f
        """,
        "q33_langid": _lang_oracle(),
        "q38_token_bpe": f"""
            SELECT doc_id,
              CAST(COALESCE(list_aggregate(
                list_transform(
                  regexp_extract_all(text, '{text.BPE_PATTERN}'),
                  t -> CAST(CEIL(CAST(length(t) AS DOUBLE)
                                 / {text.BPE_CHARS_PER_TOKEN}) AS BIGINT)),
                'sum'), 0) AS BIGINT) AS n_bpe
            FROM documents
        """,
        "q34_fingerprint": f"""
            SELECT doc_id, {_H60.format(s='text')} AS fp FROM documents
        """,
        "q39_winnow_fingerprint": f"""
            WITH sh AS (
              SELECT doc_id,
                list_distinct(CASE WHEN length(text) < 8 THEN [text]
                  ELSE list_transform(generate_series(1, length(text) - 7),
                                      i -> substring(text, i, 8)) END) AS grams
              FROM documents
            ),
            fps AS (
              SELECT doc_id,
                list_sort(list_transform(grams, g -> {_H60.format(s='g')}))[1:8]
                  AS fp
              FROM sh
            )
            SELECT doc_id, CAST(gs.i AS BIGINT) AS rank, fp[gs.i] AS h
            FROM fps, generate_series(1, 8) AS gs(i)
            WHERE gs.i <= len(fp)
        """,
        "q35_minhash_pairs": _minhash_oracle(),
        "q36_simhash_pairs": _simhash_oracle(),
        "q37_dedup_groups": _dedup_groups_oracle(),
        "q40_ann_quantized": _ann_oracle(),
        "q41_ann_cosine": _ann_cosine_oracle(),
        "q42_ann_lsh": _ann_lsh_oracle(),
        "q44_embed_near_dup_lsh": _lsh_near_dup_oracle(),
        "q52_embed_dedup_groups": f"""
            WITH RECURSIVE p AS ({_lsh_near_dup_oracle().strip()}),
            edges AS (
              SELECT id1 AS a, id2 AS b FROM p
              UNION
              SELECT id2 AS a, id1 AS b FROM p
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT a AS vec_id, LEAST(a, MIN(b)) AS component_id
            FROM reach GROUP BY a
        """,
        "q45_ann_ivf": _ann_ivf_oracle(),
        "q50_event_hourly_rollup": """
            SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hour_epoch,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(value) AS min_value,
                   MAX(value) AS max_value
            FROM events
            GROUP BY 1, 2
        """,
        "q51_user_sessions": """
            WITH o AS (
              SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e,
                LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            ),
            s AS (
              SELECT user_id, event_id, e,
                SUM(CASE WHEN prev IS NULL OR e - prev > 1800 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
              FROM o
            )
            SELECT user_id,
                   CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id
        """,
        # Mirrors sources/wav.synth_pcm verbatim: h(i) = (clip_id*MUL +
        # i*IMUL + ADD) mod 2^31, s(i) = h mod 65536 - 32768 — integer
        # arithmetic, bit-identical across engines.  vn is s(i+1) in
        # closed form, so the zero-crossing count needs no window.  The
        # int64 sum of squares stays < 2^53, so the double rms is exact.
        "q57_audio_features": """
            WITH p AS (
              SELECT doc_id AS clip_id,
                     CAST(800 + (doc_id % 50) * 160 AS BIGINT) AS n
              FROM documents
            ), s AS (
              SELECT p.clip_id, p.n, g.i,
                     ((p.clip_id * 1103515245 + g.i * 12345 + 6789)
                      % 2147483648) % 65536 - 32768 AS v,
                     ((p.clip_id * 1103515245 + (g.i + 1) * 12345 + 6789)
                      % 2147483648) % 65536 - 32768 AS vn
              FROM p, LATERAL (
                SELECT unnest(generate_series(0, p.n - 1)) AS i
              ) g
            )
            SELECT clip_id,
                   16000 AS sample_rate,
                   max(n) AS n_samples,
                   CAST(max(n) AS DOUBLE) / 16000 AS duration,
                   sqrt(CAST(sum(v * v) AS DOUBLE) / max(n)) AS rms,
                   CAST(sum(CASE WHEN i < n - 1 AND ((v < 0) != (vn < 0))
                            THEN 1 ELSE 0 END) AS DOUBLE)
                     / (max(n) - 1) AS zcr,
                   max(CASE WHEN v < 0 THEN -v ELSE v END) AS peak
            FROM s GROUP BY clip_id
        """,
        # Mirrors sources/wav.resample_linear verbatim: m = floor(n/2+0.5),
        # pos_j = (j·(n−1))/(m−1) (exact integer numerator, one IEEE
        # division), out = clip(floor(s_lo + (s_hi−s_lo)·frac + 0.5)) in
        # literal operation order — every step bit-replicable, so the
        # resampled features (same kernel as q57) match exactly.
        "q59_audio_resample": """
            WITH p AS (
              SELECT doc_id AS clip_id,
                     CAST(800 + (doc_id % 50) * 160 AS BIGINT) AS n
              FROM documents
            ), dims AS (
              SELECT clip_id, n,
                     CAST(FLOOR(CAST(n AS DOUBLE) / 2 + 0.5) AS BIGINT) AS m
              FROM p
            ), o AS (
              SELECT d.clip_id, d.n, d.m, g.j,
                     CAST(g.j * (d.n - 1) AS DOUBLE) / (d.m - 1) AS pos
              FROM dims d, LATERAL (
                SELECT unnest(generate_series(0, d.m - 1)) AS j
              ) g
            ), s AS (
              SELECT clip_id, n, m, j,
                     CAST(FLOOR(pos) AS BIGINT) AS lo,
                     LEAST(CAST(FLOOR(pos) AS BIGINT) + 1, n - 1) AS hi,
                     pos - FLOOR(pos) AS frac
              FROM o
            ), v AS (
              SELECT clip_id, n, m, j,
                GREATEST(-32768, LEAST(32767, CAST(FLOOR(
                  CAST(((clip_id * 1103515245 + lo * 12345 + 6789)
                        % 2147483648) % 65536 - 32768 AS DOUBLE)
                  + (CAST(((clip_id * 1103515245 + hi * 12345 + 6789)
                           % 2147483648) % 65536 - 32768 AS DOUBLE)
                     - CAST(((clip_id * 1103515245 + lo * 12345 + 6789)
                             % 2147483648) % 65536 - 32768 AS DOUBLE))
                    * frac
                  + 0.5) AS BIGINT))) AS out
              FROM s
            ), w AS (
              SELECT a.clip_id, a.m, a.j, a.out, b.out AS outn
              FROM v a LEFT JOIN v b
                ON b.clip_id = a.clip_id AND b.j = a.j + 1
            )
            SELECT clip_id,
                   8000 AS sample_rate,
                   max(m) AS n_samples,
                   CAST(max(m) AS DOUBLE) / 8000 AS duration,
                   sqrt(CAST(sum(out * out) AS DOUBLE) / max(m)) AS rms,
                   CAST(sum(CASE WHEN j < m - 1 AND ((out < 0) != (outn < 0))
                            THEN 1 ELSE 0 END) AS DOUBLE)
                     / (max(m) - 1) AS zcr,
                   max(CASE WHEN out < 0 THEN -out ELSE out END) AS peak
            FROM w GROUP BY clip_id
        """,
        # Mirrors sources/testdata.synth_frames verbatim: pixel(v,f,y,x,c)
        # = (v*1103515245 + f*97 + y*31 + x*17 + c*7 + 5) mod 256 over
        # 16×16×3 frames, every 2nd frame sampled.  The integer pixel sum
        # is exact, so mean_val (one IEEE division by 768) matches the
        # engine's AVI→PNG round-tripped computation bit-for-bit.
        "q58_video_frames": """
            WITH p AS (
              SELECT doc_id, 4 + doc_id % 8 AS nf FROM documents
            ), f AS (
              SELECT p.doc_id, g.fi
              FROM p, LATERAL (
                SELECT unnest(generate_series(0, p.nf - 1)) AS fi
              ) g
              WHERE g.fi % 2 = 0
            ), px AS (
              SELECT f.doc_id, f.fi,
                SUM((f.doc_id * 1103515245 + f.fi * 97 + ys.y * 31
                     + xs.x * 17 + cs.c * 7 + 5) % 256) AS s,
                MAX((f.doc_id * 1103515245 + f.fi * 97 + ys.y * 31
                     + xs.x * 17 + cs.c * 7 + 5) % 256) AS mx
              FROM f,
                (SELECT unnest(generate_series(0, 15)) AS y) ys,
                (SELECT unnest(generate_series(0, 15)) AS x) xs,
                (SELECT unnest(generate_series(0, 2)) AS c) cs
              GROUP BY f.doc_id, f.fi
            )
            SELECT CAST(doc_id AS VARCHAR) AS video_id,
                   CAST(fi AS INTEGER) AS frame_idx,
                   CAST(s AS DOUBLE) / 768 AS mean_val,
                   CAST(mx AS BIGINT) AS max_val
            FROM px
        """,
        "q43_embed_near_dup": """
            WITH qv AS (
              SELECT vec_id,
                list_transform(embedding,
                  e -> CAST(FLOOR(CAST(e AS DOUBLE) * 100000.0 + 0.5) AS BIGINT)
                ) AS q
              FROM embeddings
            ),
            n AS (
              SELECT vec_id, q,
                CAST(list_aggregate(list_transform(q, v -> v * v), 'sum')
                     AS BIGINT) AS n2
              FROM qv
            ),
            p AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                CAST(list_aggregate(
                  list_transform(generate_series(1, len(a.q)),
                                 i -> a.q[i] * b.q[i]), 'sum') AS BIGINT) AS dot,
                a.n2 AS na, b.n2 AS nb
              FROM n a, n b WHERE a.vec_id < b.vec_id
            )
            SELECT id1, id2,
              CAST(dot AS DOUBLE)
                / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cos_q
            FROM p
            WHERE CAST(dot AS DOUBLE)
                / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.4
        """,
    }
