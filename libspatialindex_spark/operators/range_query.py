"""Range / containment / point-location queries + aggregates.

Mirrors the reference query surface (SURVEY.md §2.1, §2.5):

* :func:`intersects_query`      — Q1, ``src/rtree/RTree.cc:727-731`` +
  DFS engine ``:1763-1803``
* :func:`contains_what_query`   — Q2, ``RTree.cc:675-726`` (query ⊇ data)
* :func:`point_location_query`  — Q3, ``RTree.cc:737-742``
* :func:`bounds`                — A5/Q7, root-MBR strategy
  (``test/rtree/RTreeQuery.cc:166-184``)
* :func:`count_intersects` / :func:`count_contains` — A1,
  ``capi/sidx_api.h:193-204``
* offset/limit — A2, ``sidx_api.h:281-285`` (deterministic here: ordered by
  id, whereas the reference uses traversal order)

Every query takes its window flat — per-axis lows, then highs — and the
range family runs at any dimension; ball, segment, touches and
internal-node queries are 2-D shapes.

Execution shape: driver computes the Z cover (plans/cover.py) → pruned scan
(`z BETWEEN` hits partition + row-group zone maps) → codegen'd exact
closed-interval predicate.  No shuffle; a range query is a single
embarrassingly-parallel stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.functions import geometry as G
from libspatialindex_spark.operators.relation import SpatialRelation


def intersects_query(rel: SpatialRelation, *w: float) -> DataFrame:
    """Q1 — every entry whose box intersects the closed window ``w``."""
    qlo, qhi = rel.window(w)
    return rel.pruned_for_box(*w).filter(
        G.intersects_nd(rel.box.lows(), rel.box.highs(), qlo, qhi)
    )


def contains_what_query(rel: SpatialRelation, *w: float) -> DataFrame:
    """Q2 — entries fully inside the window (query contains data)."""
    qlo, qhi = rel.window(w)
    return rel.pruned_for_box(*w).filter(
        G.contains_nd(qlo, qhi, rel.box.lows(), rel.box.highs())
    )


def point_location_query(rel: SpatialRelation, *pt: float) -> DataFrame:
    """Q3 — entries whose box contains the point (degenerate-window Q1)."""
    return rel.pruned_for_box(*pt, *pt).filter(
        G.contains_point_nd(rel.box.lows(), rel.box.highs(), pt)
    )


def bounds(rel: SpatialRelation) -> DataFrame:
    """A5 — dataset MBR (the root-node MBR of the reference tree): one row,
    per-axis lows then highs, named after the box columns."""
    dims = rel.box.dims
    return rel.df.agg(
        *[F.min(lo).alias(lo) for lo, _ in dims],
        *[F.max(hi).alias(hi) for _, hi in dims],
    )


def count_intersects(rel: SpatialRelation, *w: float) -> DataFrame:
    """A1 — ``Index_Intersects_count``; returns a 1-row DataFrame."""
    return intersects_query(rel, *w).agg(F.count(F.lit(1)).alias("n"))


def count_contains(rel: SpatialRelation, *w: float) -> DataFrame:
    """A1 — ``Index_Contains_count``."""
    return contains_what_query(rel, *w).agg(F.count(F.lit(1)).alias("n"))


def ball_query(
    rel: SpatialRelation, cx: float, cy: float, r: float
) -> DataFrame:
    """Circular range query: entries whose MBR is within distance r of the
    center (Ball shape support, ``src/spatialindex/Ball.cc``)."""
    b = rel.box
    return rel.pruned_for_box(cx - r, cy - r, cx + r, cy + r).filter(
        G.ball_intersects_box(
            cx, cy, r, F.col(b.xmin), F.col(b.ymin), F.col(b.xmax), F.col(b.ymax)
        )
    )


def touches_query(
    rel: SpatialRelation, qxmin: float, qymin: float, qxmax: float, qymax: float
) -> DataFrame:
    """Entries touching the query window (±EPS low-low / high-high boundary
    coincidence on any dim — ``Region.cc:292-309``).  NOT prunable by the
    window MBR: reference-touching boxes may be spatially disjoint from it
    (coincident low x, distant y), so this is a full codegen scan."""
    b = rel.box
    return rel.df.filter(
        G.touches(
            F.col(b.xmin), F.col(b.ymin), F.col(b.xmax), F.col(b.ymax),
            qxmin, qymin, qxmax, qymax,
        )
    )


def segment_query(
    rel: SpatialRelation, x1: float, y1: float, x2: float, y2: float
) -> DataFrame:
    """Entries whose MBR meets the line segment (LineSegment shape support,
    ``src/spatialindex/LineSegment.cc:275``)."""
    b = rel.box
    qxmin, qxmax = min(x1, x2), max(x1, x2)
    qymin, qymax = min(y1, y2), max(y1, y2)
    return rel.pruned_for_box(qxmin, qymin, qxmax, qymax).filter(
        G.segment_intersects_box(
            x1, y1, x2, y2,
            F.col(b.xmin), F.col(b.ymin), F.col(b.xmax), F.col(b.ymax),
        )
    )


def internal_nodes_query(
    rel: SpatialRelation,
    qxmin: float,
    qymin: float,
    qxmax: float,
    qymax: float,
    id_col: str = "id",
    bits: int = 8,
) -> DataFrame:
    """Q6 — subtree-granular containment (``RTree.cc:611-673``): the
    reference emits whole subtrees whose node MBR the query contains, plus
    contained leaf children at the boundary.  Distributed analog: group
    contained entries by their grid cell ("node") and emit (cell, id); a
    cell fully inside the window short-circuits the exact predicate
    (``RTree.cc:705-708``), boundary cells re-check per entry.  The union
    is exactly Q2's result keyed by cell."""
    from libspatialindex_spark.functions.curves import cell_id

    b = rel.box
    cx = F.col(b.xmin)
    cy = F.col(b.ymin)
    contained = contains_what_query(rel, qxmin, qymin, qxmax, qymax)
    return contained.select(
        cell_id(cx, cy, rel.conf, bits=bits).alias("node_cell"),
        F.col(id_col),
    )


TRAVERSAL_ORDER = "traversal"


def with_offset_limit(
    df: DataFrame,
    order_by: str | list = "id",
    offset: int = 0,
    limit: int | None = None,
) -> DataFrame:
    """A2 — deterministic offset/limit over an explicit order.

    The reference applies offset/limit in *traversal order*
    (``sidx_api.cc:583-584``).  ``order_by="traversal"`` reproduces the
    stored index's own traversal order — (bucket, z, id), i.e. the order a
    DFS over the two-level structure visits entries — when those columns
    exist; plain relations need an explicit key (default: id).  Ties still
    break on id so paging is total and stable either way.
    """
    if order_by == TRAVERSAL_ORDER:
        cols = [c for c in ("bucket", "z") if c in df.columns] + ["id"]
        out = df.orderBy(*cols)
    else:
        out = df.orderBy(
            *(order_by if isinstance(order_by, list) else [order_by])
        )
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out
