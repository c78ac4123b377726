"""Space-filling-curve keys (Morton/Z-order) and grid cells.

The curve key is the distributed analog of the reference's sort dimension /
SFC bulk-load key (``src/rtree/BulkLoader.cc:392-453`` loads entries in
pre-sorted space-filling-curve order; the fork's ZM learned index carries a
uint64 Z key in the payload, ``test/learnedindex/ZMBulkLoad.cc:92-109``).
Here the key is a first-class column:

* ``z_key`` — pure Column-expression Morton interleave (shift/mask magic,
  whole-stage codegen, no UDF);
* ``np_z_key`` — the same on numpy arrays, for driver-side planning and
  Arrow-batch UDF paths;
* grid helpers mapping world coordinates → integer cells.

Range-partitioning + sorting by this key IS the STR/SFC bulk load
(SURVEY.md §2.3); a Z range predicate IS the learned-index range query
(``src/learnedindex/LearnedIndex.cc:450-453`` → SURVEY.md Q8).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from libspatialindex_spark.config import EngineConfig

_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _part1by1_col(v: Column) -> Column:
    """Spread the low 32 bits of ``v`` to even bit positions (Column expr)."""
    out = v
    for shift, mask in _MASKS:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def grid_coord(x, lo: float, hi: float, n: int) -> Column:
    """World coordinate → integer grid cell index in [0, n-1]."""
    xc = x if isinstance(x, Column) else F.lit(float(x))
    ix = F.floor((xc - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(n)))
    return F.least(F.greatest(ix, F.lit(0)), F.lit(n - 1)).cast("long")


def z_key(x, y, conf: EngineConfig) -> Column:
    """Morton key of a point under ``conf``'s grid — pure Column expr."""
    xmin, ymin, xmax, ymax = conf.world
    ix = grid_coord(x, xmin, xmax, conf.grid_n)
    iy = grid_coord(y, ymin, ymax, conf.grid_n)
    return _part1by1_col(ix).bitwiseOR(F.shiftleft(_part1by1_col(iy), 1))


def cell_id(x, y, conf: EngineConfig, bits: int | None = None) -> Column:
    """Row-major coarse cell id ``ix * n + iy`` at ``bits`` per axis."""
    b = conf.grid_bits if bits is None else bits
    n = 1 << b
    xmin, ymin, xmax, ymax = conf.world
    ix = grid_coord(x, xmin, xmax, n)
    iy = grid_coord(y, ymin, ymax, n)
    return ix * F.lit(n) + iy


# ---------------------------------------------------------------- numpy side


def _part1by1_np(v: np.ndarray) -> np.ndarray:
    out = v.astype(np.uint64)
    for shift, mask in _MASKS:
        out = (out | (out << np.uint64(shift))) & np.uint64(mask)
    return out


def np_grid_coord(x: np.ndarray, lo: float, hi: float, n: int) -> np.ndarray:
    ix = np.floor((np.asarray(x, dtype=np.float64) - lo) / (hi - lo) * n)
    return np.clip(ix, 0, n - 1).astype(np.uint64)


def np_z_key(x: np.ndarray, y: np.ndarray, conf: EngineConfig) -> np.ndarray:
    """Vectorized Morton key (int64), bit-identical to :func:`z_key`."""
    xmin, ymin, xmax, ymax = conf.world
    ix = np_grid_coord(x, xmin, xmax, conf.grid_n)
    iy = np_grid_coord(y, ymin, ymax, conf.grid_n)
    return (_part1by1_np(ix) | (_part1by1_np(iy) << np.uint64(1))).astype(
        np.int64
    )


# ------------------------------------------------------- N-dimensional side
#
# The reference is dimension-generic (``src/rtree/RTree.cc:306-308`` accepts
# any dimension > 1; the fork ships 3-D test targets for every index type —
# ``test/CMakeLists.txt`` RTreeQuery3d / ZMQuery3d / KDTreeLoad3d ...).
# d-way Morton interleave for d = 2 (part-1-by-1 masks above) and d = 3
# (part-1-by-2 masks below); both Column-expression and numpy forms.

_MASKS3 = (
    (32, 0x001F00000000FFFF),
    (16, 0x001F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
)


def _part1by2_col(v: Column) -> Column:
    """Spread the low 21 bits of ``v`` to every 3rd bit position."""
    out = v.bitwiseAND(F.lit(0x1FFFFF))
    for shift, mask in _MASKS3:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def _part1by2_np(v: np.ndarray) -> np.ndarray:
    out = v.astype(np.uint64) & np.uint64(0x1FFFFF)
    for shift, mask in _MASKS3:
        out = (out | (out << np.uint64(shift))) & np.uint64(mask)
    return out


def z_key_nd(
    coords: list, axes: list[tuple[float, float]], grid_bits: int
) -> Column:
    """d-way Morton key (d = 2 or 3) — pure Column expression.

    ``coords`` are Columns/floats per axis; ``axes`` the (lo, hi) world
    extent per axis; each axis gets ``grid_bits`` bits."""
    d = len(axes)
    n = 1 << grid_bits
    cells = [
        grid_coord(c, lo, hi, n) for c, (lo, hi) in zip(coords, axes)
    ]
    if d == 2:
        return _part1by1_col(cells[0]).bitwiseOR(
            F.shiftleft(_part1by1_col(cells[1]), 1)
        )
    if d == 3:
        out = _part1by2_col(cells[0])
        out = out.bitwiseOR(F.shiftleft(_part1by2_col(cells[1]), 1))
        return out.bitwiseOR(F.shiftleft(_part1by2_col(cells[2]), 2))
    raise ValueError(f"z_key_nd supports d in (2, 3), got {d}")


def np_z_key_nd(
    coords: list[np.ndarray], axes: list[tuple[float, float]], grid_bits: int
) -> np.ndarray:
    """Vectorized d-way Morton key, bit-identical to :func:`z_key_nd`."""
    d = len(axes)
    n = 1 << grid_bits
    cells = [
        np_grid_coord(np.asarray(c, dtype=np.float64), lo, hi, n)
        for c, (lo, hi) in zip(coords, axes)
    ]
    if d == 2:
        out = _part1by1_np(cells[0]) | (_part1by1_np(cells[1]) << np.uint64(1))
    elif d == 3:
        out = (
            _part1by2_np(cells[0])
            | (_part1by2_np(cells[1]) << np.uint64(1))
            | (_part1by2_np(cells[2]) << np.uint64(2))
        )
    else:
        raise ValueError(f"np_z_key_nd supports d in (2, 3), got {d}")
    return out.astype(np.int64)


def z_of_cell_nd(cells: tuple[int, ...]) -> int:
    """Scalar d-way Morton key of an integer cell (driver-side planning),
    the key :func:`np_z_key_nd` gives every point of that cell.  Plain
    Python ints: the cover walk keys every block it emits, and a numpy
    array per call costs more than the whole bit spread."""
    d = len(cells)
    if d not in (2, 3):
        raise ValueError(f"z_of_cell_nd supports d in (2, 3), got {d}")
    masks = _MASKS if d == 2 else _MASKS3
    z = 0
    for a, c in enumerate(cells):
        if d == 3:
            c &= 0x1FFFFF
        for shift, mask in masks:
            c = (c | (c << shift)) & mask
        z |= c << a
    return z
