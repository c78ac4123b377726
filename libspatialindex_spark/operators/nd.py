"""Dimension-generic building blocks: box columns, layout config and the
cell grid.

The reference is dimension-generic: ``RTree.cc:306-308`` accepts any
dimension > 1, every query validates ``query.getDimension() ==
m_dimension`` (``RTree.cc:581,601,729,746``), and the AI-DB-UoM fork ships
3-D test targets for every index family (``test/CMakeLists.txt``:
``RTreeQuery3d``, ``ZMQuery3d``, ``LISAQuery3d``, ``KDTreeLoad3d``,
``PlatonBulkLoad3d``).  So is this engine: one relation
(``relation.SpatialRelation``), one stored layout (``index_build``) and one
body per query (``range_query``, ``knn``, ``spatial_join``) at every
dimension.  Boxes are per-axis (lo, hi) column pairs (:class:`NDBox`),
predicates come from ``geometry.*_nd``, the curve key is the d-way Morton
interleave (``curves.z_key_nd``), pruning walks a 2^d-ary tree
(``cover.z_cover_nd``), and the cell-keyed joins share one grid
(:func:`cells` / :func:`cell_of`).  A 2-D relation is d=2 of all of it.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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

    # the 2-D column names, for the shapes that exist only in 2-D
    # (ball, segment, touches, temporal and moving queries)
    @property
    def xmin(self) -> str:
        return self.dims[0][0]

    @property
    def xmax(self) -> str:
        return self.dims[0][1]

    @property
    def ymin(self) -> str:
        return self.dims[1][0]

    @property
    def ymax(self) -> str:
        return self.dims[1][1]


@dataclass(frozen=True)
class NDConfig:
    """Dimension-generic layout config (PropertySet analog)."""

    axes: tuple[tuple[float, float], ...] = ((0.0, 1.0), (0.0, 1.0))
    grid_bits: int = 10
    target_partitions: int = 32

    @property
    def d(self) -> int:
        return len(self.axes)


# ---------------------------------------------------------------- cell grid
#
# One uniform n^d grid over ``axes`` keys every cell equi-join (the PiP
# join, batch windows, the kNN join and the self-join).  Cell ids are
# row-major over the axes: x, then y (, then z).


def _idx_col(c, lo: float, step: float, n: int) -> Column:
    i = F.floor((c - F.lit(lo)) / F.lit(step))
    return F.least(F.greatest(i, F.lit(0)), F.lit(n - 1)).cast("long")


def cell_of(coords: list, axes, n: int) -> Column:
    """Cell id of the point ``coords`` (one Column per axis); coordinates
    outside the world clamp to the edge cells."""
    idxs = [
        _idx_col(c, lo, (hi - lo) / n, n) for c, (lo, hi) in zip(coords, axes)
    ]
    return reduce(lambda cell, i: cell * F.lit(n) + i, idxs)


def cells(df: DataFrame, lows: list, highs: list, axes, n: int) -> DataFrame:
    """One row of ``df`` per grid cell its box [lows, highs] meets (one
    Column per axis each), keyed by the cell id in column ``cell``.  The
    per-axis index ranges are projected once, before the explodes."""
    d = len(axes)
    for a, lo_c, hi_c, (lo, hi) in zip(range(d), lows, highs, axes):
        s = (hi - lo) / n
        df = df.withColumn(f"_lo{a}", _idx_col(lo_c, lo, s, n)).withColumn(
            f"_hi{a}", _idx_col(hi_c, lo, s, n)
        )
    for a in range(d):
        df = df.withColumn(
            f"_i{a}", F.explode(F.sequence(F.col(f"_lo{a}"), F.col(f"_hi{a}")))
        )
    cell = reduce(lambda c, i: c * F.lit(n) + i, [F.col(f"_i{a}") for a in range(d)])
    tmp = [f"_{t}{a}" for a in range(d) for t in ("lo", "hi", "i")]
    return df.withColumn("cell", cell).drop(*tmp)
