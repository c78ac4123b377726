"""Closed-interval MBR predicates as Spark Column expressions.

Bit-for-bit the semantics of the reference geometry kernel
(``/root/reference/src/spatialindex/Region.cc``):

* ``intersects``      — Region.cc:264-276  (touching boundaries DO intersect)
* ``contains``        — Region.cc:278-290  (closed both sides)
* ``contains_point``  — Region.cc:374-386  (the reference's point-in-"polygon";
  polygons only exist as MBRs: ``src/rtree/RTree.cc:583-585``)
* ``touches``         — Region.cc:292-309, 388-405 (±epsilon on any boundary)
* ``min_dist2_point`` — Region.cc:407-429  (squared Euclidean point↔box, 0 inside)
* ``min_dist2_box``   — Region.cc:312-338  (squared Euclidean box↔box)

Everything is a pure ``pyspark.sql.functions`` expression → whole-stage
codegen, no Python in the hot path.  Boxes are four DoubleType columns
(xmin, ymin, xmax, ymax); points are (x, y).  All intervals are closed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Machine epsilon used by the reference's touches (Tools.h DOUBLE_EPS usage
# in Region.cc:292-309).
EPS = 2.220446049250313e-16


def _c(v) -> Column:
    return v if isinstance(v, Column) else F.lit(float(v))


def intersects(
    axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax
) -> Column:
    """a ∩ b ≠ ∅ on closed intervals (Region.cc:264-276).

    ``!(a.low > b.high || a.high < b.low)`` per dimension — boundary touch
    counts as intersection.
    """
    axmin, aymin, axmax, aymax = map(_c, (axmin, aymin, axmax, aymax))
    bxmin, bymin, bxmax, bymax = map(_c, (bxmin, bymin, bxmax, bymax))
    return (
        ~((axmin > bxmax) | (axmax < bxmin))
        & ~((aymin > bymax) | (aymax < bymin))
    )


def contains(
    axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax
) -> Column:
    """a ⊇ b on closed intervals (Region.cc:278-290)."""
    axmin, aymin, axmax, aymax = map(_c, (axmin, aymin, axmax, aymax))
    bxmin, bymin, bxmax, bymax = map(_c, (bxmin, bymin, bxmax, bymax))
    return (
        (axmin <= bxmin) & (axmax >= bxmax) & (aymin <= bymin) & (aymax >= bymax)
    )


def contains_point(xmin, ymin, xmax, ymax, px, py) -> Column:
    """Closed-interval point inclusion (Region.cc:374-386)."""
    xmin, ymin, xmax, ymax, px, py = map(_c, (xmin, ymin, xmax, ymax, px, py))
    return (xmin <= px) & (px <= xmax) & (ymin <= py) & (py <= ymax)


def touches(axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax) -> Column:
    """Exact ``Region::touchesRegion`` semantics (Region.cc:292-309): true
    iff on ANY dimension the two lows coincide within ±EPS or the two highs
    do.  (No intersection requirement, and low↔high coincidence does NOT
    count — faithful to the reference, quirks included.)"""
    axmin, aymin, axmax, aymax = map(_c, (axmin, aymin, axmax, aymax))
    bxmin, bymin, bxmax, bymax = map(_c, (bxmin, bymin, bxmax, bymax))
    return (
        (F.abs(axmin - bxmin) <= EPS)
        | (F.abs(axmax - bxmax) <= EPS)
        | (F.abs(aymin - bymin) <= EPS)
        | (F.abs(aymax - bymax) <= EPS)
    )


def min_dist2_point(xmin, ymin, xmax, ymax, px, py) -> Column:
    """Squared Euclidean distance point → box, 0 inside (Region.cc:407-429).

    Squared (not sqrt'd) so kNN ordering is exact in integer-derived
    fixtures; sqrt is monotone so ordering and tie sets are identical.
    """
    xmin, ymin, xmax, ymax, px, py = map(_c, (xmin, ymin, xmax, ymax, px, py))
    dx = F.greatest(xmin - px, px - xmax, F.lit(0.0))
    dy = F.greatest(ymin - py, py - ymax, F.lit(0.0))
    return dx * dx + dy * dy


def min_dist2_box(
    axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax
) -> Column:
    """Squared Euclidean distance box → box, 0 when intersecting
    (Region.cc:312-338)."""
    axmin, aymin, axmax, aymax = map(_c, (axmin, aymin, axmax, aymax))
    bxmin, bymin, bxmax, bymax = map(_c, (bxmin, bymin, bxmax, bymax))
    dx = F.greatest(axmin - bxmax, bxmin - axmax, F.lit(0.0))
    dy = F.greatest(aymin - bymax, bymin - aymax, F.lit(0.0))
    return dx * dx + dy * dy


def ball_intersects_box(cx, cy, r, xmin, ymin, xmax, ymax) -> Column:
    """Ball ∩ box ≠ ∅ (closed): point↔box distance ≤ r.

    The reference's ``Ball::intersectsShape`` is unimplemented
    (``src/spatialindex/Ball.cc:141``); this engine defines it by the
    Euclidean point↔box distance of ``Region.cc:407-429`` — consistent
    with ``Ball::containsRegion`` (``Ball.cc:183``) which uses corner
    distances ≤ r."""
    return min_dist2_point(xmin, ymin, xmax, ymax, cx, cy) <= _c(r) * _c(r)


def ball_contains_box(cx, cy, r, xmin, ymin, xmax, ymax) -> Column:
    """Ball ⊇ box: all four corners within radius (``Ball.cc:183-193``)."""
    cx, cy, r = _c(cx), _c(cy), _c(r)
    xmin, ymin, xmax, ymax = map(_c, (xmin, ymin, xmax, ymax))
    r2 = r * r

    def d2(px, py):
        return (px - cx) * (px - cx) + (py - cy) * (py - cy)

    return (
        (d2(xmin, ymin) <= r2) & (d2(xmin, ymax) <= r2)
        & (d2(xmax, ymin) <= r2) & (d2(xmax, ymax) <= r2)
    )


_FAR = 1.0e18


def _seg_axis_interval(p, d, lo, hi):
    """Feasible t for lo ≤ p + d·t ≤ hi (Liang-Barsky clipping axis)."""
    p, d = _c(p), _c(d)
    lo, hi = _c(lo), _c(hi)
    ta = (lo - p) / d
    tb = (hi - p) / d
    inside = (lo <= p) & (p <= hi)
    t_lo = F.when(d == 0.0, F.when(inside, F.lit(-_FAR)).otherwise(F.lit(_FAR))).otherwise(F.least(ta, tb))
    t_hi = F.when(d == 0.0, F.when(inside, F.lit(_FAR)).otherwise(F.lit(-_FAR))).otherwise(F.greatest(ta, tb))
    return t_lo, t_hi


def segment_intersects_box(x1, y1, x2, y2, xmin, ymin, xmax, ymax) -> Column:
    """2-D segment ∩ box ≠ ∅ (closed) via parametric clipping — the
    Column-expression form of ``LineSegment::intersectsRegion``
    (``src/spatialindex/LineSegment.cc:275``)."""
    tx_lo, tx_hi = _seg_axis_interval(x1, _c(x2) - _c(x1), xmin, xmax)
    ty_lo, ty_hi = _seg_axis_interval(y1, _c(y2) - _c(y1), ymin, ymax)
    enter = F.greatest(tx_lo, ty_lo, F.lit(0.0))
    leave = F.least(tx_hi, ty_hi, F.lit(1.0))
    return enter <= leave


def _d2area(ax, ay, bx, by, cx, cy) -> Column:
    """Twice the signed triangle area (LineSegment.cc:427-430)."""
    return (_c(bx) - _c(ax)) * (_c(cy) - _c(ay)) - (
        (_c(cx) - _c(ax)) * (_c(by) - _c(ay))
    )


def _between_1d(a: Column, b: Column, c: Column) -> Column:
    """c within [min(a,b), max(a,b)] (LineSegment.cc:467-469)."""
    return ((a <= c) & (c <= b)) | ((a >= c) & (c >= b))


def segment_intersects_segment(
    ax, ay, bx, by, cx, cy, dx, dy
) -> Column:
    """2-D segment (a→b) ∩ segment (c→d) ≠ ∅, endpoints INCLUSIVE — the
    exact ``LineSegment::intersects`` decision procedure
    (``src/spatialindex/LineSegment.cc:472-483``): a *proper* crossing
    (strictly opposite orientations on both segments, no collinear
    endpoint — ``intersectsProper``, ``:444-451``) OR any endpoint
    collinear-and-between the other segment (``between``, ``:454-469`` —
    x-compared unless the base segment is vertical).  Pure sign tests on
    doubled triangle areas; no division, codegen-safe."""
    ax, ay, bx, by = _c(ax), _c(ay), _c(bx), _c(by)
    cx, cy, dx, dy = _c(cx), _c(cy), _c(dx), _c(dy)
    abc = _d2area(ax, ay, bx, by, cx, cy)
    abd = _d2area(ax, ay, bx, by, dx, dy)
    cda = _d2area(cx, cy, dx, dy, ax, ay)
    cdb = _d2area(cx, cy, dx, dy, bx, by)
    any_collinear = (abc == 0.0) | (abd == 0.0) | (cda == 0.0) | (cdb == 0.0)
    proper = (
        ~any_collinear
        & ((abc > 0.0) != (abd > 0.0))
        & ((cda > 0.0) != (cdb > 0.0))
    )

    def between(px1, py1, px2, py2, qx, qy, area):
        on_seg = F.when(
            px1 != px2, _between_1d(px1, px2, qx)
        ).otherwise(_between_1d(py1, py2, qy))
        return (area == 0.0) & on_seg

    touching = (
        between(ax, ay, bx, by, cx, cy, abc)
        | between(ax, ay, bx, by, dx, dy, abd)
        | between(cx, cy, dx, dy, ax, ay, cda)
        | between(cx, cy, dx, dy, bx, by, cdb)
    )
    return proper | touching


def line_dist_point(x1, y1, x2, y2, px, py) -> Column:
    """The reference's EXACT ``LineSegment::getMinimumDistance(Point)``
    (``src/spatialindex/LineSegment.cc:246-273``) — quirks included: a
    vertical segment returns ``|px − x1|`` (y ignored), a horizontal one
    ``|py − y1|``, otherwise the perpendicular distance to the INFINITE
    line through the segment (no clamping to the endpoints).  Kept for
    parity; :func:`min_dist2_segment_point` is the true clamped distance
    a segment-query kNN needs."""
    x1, y1, x2, y2, px, py = map(_c, (x1, y1, x2, y2, px, py))
    perp = F.abs((x2 - x1) * (y1 - py) - (x1 - px) * (y2 - y1)) / F.sqrt(
        (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
    )
    return (
        F.when(x2 == x1, F.abs(px - x1))
        .when(y2 == y1, F.abs(py - y1))
        .otherwise(perp)
    )


def min_dist2_segment_point(x1, y1, x2, y2, px, py) -> Column:
    """True squared point↔segment distance: project onto the segment,
    clamp t to [0, 1], measure to the closest point.  Degenerate segment
    (zero length) → point↔point distance.  This is the distance a kNN
    against a segment query shape orders by (the reference's own
    ``getMinimumDistance`` is the unclamped line form —
    :func:`line_dist_point`; its Region overload throws 'Not implemented
    yet', ``LineSegment.cc:225-244``, so this engine defines the proper
    metric, as it did for Ball)."""
    x1, y1, x2, y2, px, py = map(_c, (x1, y1, x2, y2, px, py))
    dx = x2 - x1
    dy = y2 - y1
    len2 = dx * dx + dy * dy
    ux = px - x1
    uy = py - y1
    dot = ux * dx + uy * dy
    t = F.when(len2 == 0.0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), dot / len2))
    )
    # |u − t·d|² = |u|² − t·(2·dot − t·len2), clamped at 0 against float
    # cancellation.  This algebraic form references t twice instead of the
    # closest-point form's four — the straightforward ex/ey expansion
    # pushed the 6-term segment↔box LEAST past the JIT method-size limit,
    # dropping the whole filter out of codegen (20-30× slower interpreted
    # evaluation measured at sf0.1).
    u2 = ux * ux + uy * uy
    return F.greatest(u2 - t * (F.lit(2.0) * dot - t * len2), F.lit(0.0))


def min_dist2_segment_box(
    x1, y1, x2, y2, xmin, ymin, xmax, ymax
) -> Column:
    """Squared segment↔box distance, 0 when they meet.

    Exactness: for two disjoint convex sets whose boundaries are segments,
    the minimum is attained at an endpoint of one of them — so it is the
    least of (a) each segment endpoint's distance to the box
    (``Region.cc:407-429``) and (b) each box corner's clamped distance to
    the segment.  The meet test is the Liang-Barsky clip
    (:func:`segment_intersects_box`)."""
    hit = segment_intersects_box(x1, y1, x2, y2, xmin, ymin, xmax, ymax)
    return F.when(hit, F.lit(0.0)).otherwise(
        F.least(
            min_dist2_point(xmin, ymin, xmax, ymax, x1, y1),
            min_dist2_point(xmin, ymin, xmax, ymax, x2, y2),
            min_dist2_segment_point(x1, y1, x2, y2, xmin, ymin),
            min_dist2_segment_point(x1, y1, x2, y2, xmin, ymax),
            min_dist2_segment_point(x1, y1, x2, y2, xmax, ymin),
            min_dist2_segment_point(x1, y1, x2, y2, xmax, ymax),
        )
    )


# ----------------------------------------------------------- N-dimensional
#
# The reference's Region kernel is dimension-generic (per-dim loops over
# m_pLow/m_pHigh — Region.cc:264-276, 278-290, 374-386, 407-429); these are
# the same predicates parameterized by dimension lists, and every query
# that exists at any dimension (range family, kNN, self-join) uses them.
# At d=2 they execute the same plans as the 2-D functions above, which
# serve the 2-D-only shapes (ball, segment, touches, temporal, moving).


def _reduce_and(preds: list[Column]) -> Column:
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def intersects_nd(lows, highs, qlows, qhighs) -> Column:
    """Closed-interval intersection per dimension (Region.cc:264-276)."""
    return _reduce_and(
        [
            ~((_c(lo) > _c(qhi)) | (_c(hi) < _c(qlo)))
            for lo, hi, qlo, qhi in zip(lows, highs, qlows, qhighs)
        ]
    )


def contains_nd(qlows, qhighs, lows, highs) -> Column:
    """Query ⊇ entry on closed intervals (Region.cc:278-290)."""
    return _reduce_and(
        [
            (_c(qlo) <= _c(lo)) & (_c(qhi) >= _c(hi))
            for lo, hi, qlo, qhi in zip(lows, highs, qlows, qhighs)
        ]
    )


def contains_point_nd(lows, highs, pts) -> Column:
    """Closed-interval point inclusion (Region.cc:374-386)."""
    return _reduce_and(
        [
            (_c(lo) <= _c(p)) & (_c(p) <= _c(hi))
            for lo, hi, p in zip(lows, highs, pts)
        ]
    )


def min_dist2_point_nd(lows, highs, pts) -> Column:
    """Squared Euclidean distance point → box, 0 inside (Region.cc:407-429),
    any dimension."""
    out = None
    for lo, hi, p in zip(lows, highs, pts):
        d = F.greatest(_c(lo) - _c(p), _c(p) - _c(hi), F.lit(0.0))
        term = d * d
        out = term if out is None else out + term
    return out


def min_dist2_box_nd(lows, highs, qlows, qhighs) -> Column:
    """Squared Euclidean distance box → box, 0 when intersecting
    (Region.cc:312-338 — the per-dim delta loop is dimension-generic in
    the reference), any dimension."""
    out = None
    for lo, hi, qlo, qhi in zip(lows, highs, qlows, qhighs):
        d = F.greatest(_c(lo) - _c(qhi), _c(qlo) - _c(hi), F.lit(0.0))
        term = d * d
        out = term if out is None else out + term
    return out


def combine(axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax):
    """MBR union (Region.cc:496) → 4 Columns."""
    return (
        F.least(_c(axmin), _c(bxmin)),
        F.least(_c(aymin), _c(bymin)),
        F.greatest(_c(axmax), _c(bxmax)),
        F.greatest(_c(aymax), _c(bymax)),
    )


def area(xmin, ymin, xmax, ymax) -> Column:
    """Box area (Region.cc:239)."""
    return (_c(xmax) - _c(xmin)) * (_c(ymax) - _c(ymin))


def intersecting_area(
    axmin, aymin, axmax, aymax, bxmin, bymin, bxmax, bymax
) -> Column:
    """Area of a ∩ b, 0 if disjoint (Region.cc:457)."""
    w = F.least(_c(axmax), _c(bxmax)) - F.greatest(_c(axmin), _c(bxmin))
    h = F.least(_c(aymax), _c(bymax)) - F.greatest(_c(aymin), _c(bymin))
    return F.when((w >= 0) & (h >= 0), w * h).otherwise(F.lit(0.0))
