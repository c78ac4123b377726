"""N-dimensional (2-D/3-D) relations and queries.

The reference is dimension-generic: ``RTree.cc:306-308`` accepts any
dimension > 1, every query validates ``query.getDimension() ==
m_dimension`` (``RTree.cc:581,601,729,746``), and the AI-DB-UoM fork ships
3-D test targets for every index family (``test/CMakeLists.txt``:
``RTreeQuery3d``, ``ZMQuery3d``, ``LISAQuery3d``, ``KDTreeLoad3d``,
``PlatonBulkLoad3d``).  This module is the engine's dimension-generic
layer: boxes are per-axis (lo, hi) column pairs, predicates come from
``geometry.*_nd``, the curve key is the d-way Morton interleave
(``curves.z_key_nd``), and pruning walks a 2^d-ary tree
(``cover.z_cover_nd``) through the planner every relation shares
(``relation.BoxPruning``).

The stored index is one layout at every dimension
(``index_build.StoredIndex``): opened with an :class:`NDConfig` it answers
through :class:`NDRelation`.  The 2-D query operators (``range_query``,
``knn``, ``spatial_join``) are still separate from the ones here; their
row parity at d=2 is pytest-pinned.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.functions import geometry as G
from libspatialindex_spark.operators import knn
from libspatialindex_spark.operators.relation import BoxPruning


@dataclass(frozen=True)
class NDBox:
    """Per-axis (lo_col, hi_col) names; points pass lo == hi columns."""

    dims: tuple[tuple[str, str], ...] = (("xmin", "xmax"), ("ymin", "ymax"))

    @property
    def d(self) -> int:
        return len(self.dims)

    def lows(self) -> list:
        return [F.col(lo) for lo, _ in self.dims]

    def highs(self) -> list:
        return [F.col(hi) for _, hi in self.dims]

    def centers(self) -> list:
        return [(F.col(lo) + F.col(hi)) / 2 for lo, hi in self.dims]

    @staticmethod
    def of(box) -> "NDBox | None":
        """``box`` as an NDBox: a 2-D ``relation.BoxCols`` is its two axes;
        ``None`` stays ``None``."""
        if box is None or isinstance(box, NDBox):
            return box
        return NDBox(((box.xmin, box.xmax), (box.ymin, box.ymax)))


@dataclass(frozen=True)
class NDConfig:
    """Dimension-generic layout config (PropertySet analog)."""

    axes: tuple[tuple[float, float], ...] = ((0.0, 1.0), (0.0, 1.0))
    grid_bits: int = 10
    target_partitions: int = 32

    @property
    def d(self) -> int:
        return len(self.axes)


@dataclass
class NDRelation(BoxPruning):
    """Queryable N-d spatial relation (ISpatialIndex analog, any d)."""

    df: DataFrame
    conf: NDConfig
    box: NDBox
    z_col: str | None = None
    max_extent: tuple[float, ...] | None = None
    bucket_boxes: list = field(default_factory=list)  # (bucket, lows, highs)
    file_boxes: list = field(default_factory=list)
    data_path: str | None = None

    def pruned_for_box(self, qlo: list[float], qhi: list[float]) -> DataFrame:
        return self._pruned(qlo, qhi)

    def files_planned_for_box(self, qlo: list[float], qhi: list[float]) -> int:
        return self._files_planned(qlo, qhi)


# ------------------------------------------------------------------ queries


def intersects_query_nd(
    rel: NDRelation, qlo: list[float], qhi: list[float]
) -> DataFrame:
    """Q1 in d dims: closed-interval window intersection."""
    return rel.pruned_for_box(qlo, qhi).filter(
        G.intersects_nd(rel.box.lows(), rel.box.highs(), qlo, qhi)
    )


def contains_what_query_nd(
    rel: NDRelation, qlo: list[float], qhi: list[float]
) -> DataFrame:
    """Q2 in d dims: entries fully inside the query window."""
    return rel.pruned_for_box(qlo, qhi).filter(
        G.contains_nd(qlo, qhi, rel.box.lows(), rel.box.highs())
    )


def point_location_query_nd(rel: NDRelation, pt: list[float]) -> DataFrame:
    """Q3 in d dims: entries whose box contains the point."""
    return rel.pruned_for_box(list(pt), list(pt)).filter(
        G.contains_point_nd(rel.box.lows(), rel.box.highs(), pt)
    )


def _knn_shape_nd(
    rel: NDRelation, qlo: list[float], qhi: list[float], k: int, dist_col: str
) -> DataFrame:
    """d-dim kNN for any box-shaped query (a point is the degenerate box):
    cube rings around [qlo, qhi] through the one ring core
    (:func:`knn._ring_knn`; RTree.cc:744-812 semantics; the kNN distance is
    the dimension-generic Region↔Region delta loop, Region.cc:312-338)."""
    d2 = G.min_dist2_box_nd(rel.box.lows(), rel.box.highs(), qlo, qhi)

    def candidates(r):
        if r is None:
            return rel.df.withColumn(dist_col, d2)
        return rel.pruned_for_box(
            [p - r for p in qlo], [p + r for p in qhi]
        ).withColumn(dist_col, d2).filter(F.col(dist_col) <= r * r)

    return knn._ring_knn(
        candidates, k, dist_col,
        knn._ring_radii(max(hi - lo for lo, hi in rel.conf.axes)),
    )


def knn_query_nd(
    rel: NDRelation, pt: list[float], k: int, dist_col: str = "dist2"
) -> DataFrame:
    """Q4 in d dims: tie-inclusive point kNN — the degenerate box."""
    return _knn_shape_nd(rel, list(pt), list(pt), k, dist_col)


def knn_box_query_nd(
    rel: NDRelation,
    qlo: list[float],
    qhi: list[float],
    k: int,
    dist_col: str = "dist2",
) -> DataFrame:
    """kNN with a d-dim REGION query shape (``nearestNeighborQuery``
    accepts any IShape at any dimension, RTree.cc:744-746 + 306-308) —
    the 2-D ``knn_box_query`` generalized."""
    return _knn_shape_nd(rel, list(qlo), list(qhi), k, dist_col)


def knn_join_nd(
    rel: NDRelation,
    queries: DataFrame,
    k: int,
    q_cols: list[str] | None = None,
    qid_col: str = "qid",
    dist_col: str = "dist2",
) -> DataFrame:
    """Batch kNN in d dims (the 2-D ``knn.knn_join`` shape generalized):
    iterative radius doubling over the unresolved query subset, d-cube
    cell equi-join candidates sized to the radius, the per-query
    tie-inclusive resolve shared with the 2-D join
    (:func:`knn._resolve_per_query`), nearest-point-cell dedup (a (query,
    entry) pair is emitted only from the cell containing the entry box's
    nearest point to the query — exactly one cell, no dropDuplicates).
    Unbounded loop, but the radius doubles per round and the
    ``r >= world_r`` terminal branch resolves every remaining query with
    min(k, N) semantics.

    ``q_cols``: the d query-point columns (default q0..q{d-1}).
    Output: (qid, id, dist2), tie-inclusive per query."""
    d = rel.conf.d
    axes = rel.conf.axes
    q_cols = q_cols or [f"q{i}" for i in range(d)]
    world_r = max(hi - lo for lo, hi in axes)
    n_rows = rel.df.count()
    r = max(knn.RING_INIT, 1.5 * world_r * (k / max(n_rows, 1)) ** (1.0 / d))

    pend_cols = [F.col(qid_col).alias("_qid")] + [
        F.col(c).alias(f"_q{i}") for i, c in enumerate(q_cols)
    ]
    pending = queries.select(*pend_cols).persist()
    qpt = [F.col(f"_q{i}") for i in range(d)]
    d2 = G.min_dist2_point_nd(rel.box.lows(), rel.box.highs(), qpt)
    # nearest point of the entry box to the query, per axis
    near = [
        F.greatest(F.col(lo_c), F.least(q, F.col(hi_c)))
        for q, (lo_c, hi_c) in zip(qpt, rel.box.dims)
    ]
    out: DataFrame | None = None

    while True:
        if pending.limit(1).count() == 0:
            break
        if r >= world_r:
            cand = pending.crossJoin(rel.df).withColumn(dist_col, d2)
            rows = knn._resolve_per_query(
                cand, k, dist_col, qid_col, certify=False
            )
            out = rows if out is None else out.unionByName(rows)
            break
        n = 1 << max(1, min(6, int(math.floor(math.log2(world_r / r)))))
        ecells = _cells_nd(rel.df, rel.box.lows(), rel.box.highs(), axes, n)
        qcells = _cells_nd(
            pending, [q - F.lit(r) for q in qpt], [q + F.lit(r) for q in qpt],
            axes, n,
        )
        # single-action candidate stream: no persist (as in knn.knn_join)
        cand = (
            qcells.join(ecells, on="cell")
            .withColumn(dist_col, d2)
            .filter(F.col(dist_col) <= F.lit(r * r))
            .filter(_cell_nd(near, axes, n) == F.col("cell"))
        )
        rows = knn._resolve_per_query(cand, k, dist_col, qid_col)
        out = rows if out is None else out.unionByName(rows)
        done_qids = rows.select(F.col(qid_col).alias("_qid")).distinct()
        new_pending = pending.join(done_qids, on="_qid", how="left_anti").persist()
        pending.unpersist()
        pending = new_pending
        r *= 2.0
    pending.unpersist()
    if out is None:
        return queries.sparkSession.createDataFrame(
            [], f"{qid_col} long, id long, {dist_col} double"
        )
    return out


def _idx_col(c, lo: float, step: float, n: int):
    i = F.floor((c - F.lit(lo)) / F.lit(step))
    return F.least(F.greatest(i, F.lit(0)), F.lit(n - 1)).cast("long")


def _cell_key(idxs: list, n: int):
    """Row-major cell id of per-axis cell indices on an n^d grid."""
    return reduce(lambda cell, i: cell * F.lit(n) + i, idxs)


def _cell_nd(coords: list, axes, n: int):
    """Cell id of the d-dim point ``coords`` on the n^d grid over ``axes``."""
    idxs = [
        _idx_col(c, lo, (hi - lo) / n, n) for c, (lo, hi) in zip(coords, axes)
    ]
    return _cell_key(idxs, n)


def _cells_nd(df: DataFrame, lows: list, highs: list, axes, n: int) -> DataFrame:
    """One row of ``df`` per n^d grid cell its box [lows, highs] meets,
    keyed by the cell id in column ``cell``."""
    tmp = [f"_i{a}" for a in range(len(axes))]
    for t, lo_c, hi_c, (lo, hi) in zip(tmp, lows, highs, axes):
        s = (hi - lo) / n
        i0, i1 = _idx_col(lo_c, lo, s, n), _idx_col(hi_c, lo, s, n)
        df = df.withColumn(t, F.explode(F.sequence(i0, i1)))
    cell = _cell_key([F.col(t) for t in tmp], n)
    return df.withColumn("cell", cell).drop(*tmp)


def self_join_query_nd(
    rel: NDRelation,
    qlo: list[float],
    qhi: list[float],
    id_col: str = "id",
    join_bits: int = 6,
) -> DataFrame:
    """Q5 in d dims: pairs (id1, id2), both orders, id1 ≠ id2, both boxes
    intersecting the window and each other (closed intervals) — the 2-D
    cell-join + reference-corner dedup generalized: each box explodes to
    its covering d-cells, pairs meet on the cell equi-join key, and a pair
    is emitted only from the cell containing the intersection's lower
    corner (which lies in exactly one cell — no dropDuplicates shuffle)."""
    d = rel.conf.d
    n = 1 << join_bits

    base = rel.pruned_for_box(qlo, qhi).filter(
        G.intersects_nd(rel.box.lows(), rel.box.highs(), qlo, qhi)
    ).select(id_col, *[c for p in rel.box.dims for c in p]).persist()
    cells = _cells_nd(base, rel.box.lows(), rel.box.highs(), rel.conf.axes, n)

    def side(tag: str):
        sel = [F.col(id_col).alias(f"id{tag}")]
        for a, (lo_c, hi_c) in enumerate(rel.box.dims):
            sel.append(F.col(lo_c).alias(f"_{tag}lo{a}"))
            sel.append(F.col(hi_c).alias(f"_{tag}hi{a}"))
        return cells.select(*sel, "cell")

    left, right = side("1"), side("2")
    pair_ok = F.col("id1") != F.col("id2")
    for a in range(d):
        pair_ok = pair_ok & ~(
            (F.col(f"_1lo{a}") > F.col(f"_2hi{a}"))
            | (F.col(f"_1hi{a}") < F.col(f"_2lo{a}"))
        )
    joined = left.join(right, on="cell", how="inner").filter(pair_ok)

    ref_cell = _cell_nd(
        [F.greatest(F.col(f"_1lo{a}"), F.col(f"_2lo{a}")) for a in range(d)],
        rel.conf.axes, n,
    )
    return joined.filter(ref_cell == F.col("cell")).select("id1", "id2")


def count_intersects_nd(
    rel: NDRelation, qlo: list[float], qhi: list[float]
) -> DataFrame:
    """A1 in d dims — Index_Intersects_count analog."""
    return intersects_query_nd(rel, qlo, qhi).agg(
        F.count(F.lit(1)).alias("n")
    )


def bounds_nd(rel: NDRelation) -> DataFrame:
    """A5 in d dims — root MBR: one row with lo_i / hi_i per axis."""
    aggs = []
    for i, (lo, hi) in enumerate(rel.box.dims):
        aggs.append(F.min(lo).alias(f"lo{i}"))
        aggs.append(F.max(hi).alias(f"hi{i}"))
    return rel.df.agg(*aggs)
