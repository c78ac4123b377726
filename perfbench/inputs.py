"""Seeded input generators.

Every coordinate is a dyadic rational ``k / 2**20``, so Spark, DuckDB and
NumPy compute bit-identical doubles for boxes, shifts and squared
distances, and the oracle can compare closed-interval predicates and kNN
ties exactly.  Each generator takes a ``numpy.random.Generator`` derived
from the workload seed; the engine only ever sees the generated frames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SCALE = 1 << 20
# Entry extents stay below 2**16 / 2**20 per axis, the bound the engine's
# own testdata uses (sources.testdata.MAX_EXTENT).
MAX_EXTENT_UNITS = 1 << 16
POLY_EXTENT_UNITS = 1 << 15


def stream(seed: int, purpose: int) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a consumer never
    shifts the numbers another consumer draws."""
    return np.random.default_rng([seed, purpose])


def _lattice(rng: np.random.Generator, n: int, hi: int = SCALE) -> np.ndarray:
    return rng.integers(0, hi, n).astype(np.int64)


def rects(rng: np.random.Generator, n: int, first_id: int = 0) -> pd.DataFrame:
    """``n`` boxes ``(id, xmin, ymin, xmax, ymax)`` on the unit square."""
    x, y = _lattice(rng, n), _lattice(rng, n)
    w, h = _lattice(rng, n, MAX_EXTENT_UNITS), _lattice(rng, n, MAX_EXTENT_UNITS)
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "xmin": x / SCALE, "ymin": y / SCALE,
        "xmax": (x + w) / SCALE, "ymax": (y + h) / SCALE,
    })


def polys(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` polygon MBRs ``(poly_id, pxmin, pymin, pxmax, pymax)``."""
    x, y = _lattice(rng, n), _lattice(rng, n)
    w, h = _lattice(rng, n, POLY_EXTENT_UNITS), _lattice(rng, n, POLY_EXTENT_UNITS)
    return pd.DataFrame({
        "poly_id": np.arange(n, dtype=np.int64),
        "pxmin": x / SCALE, "pymin": y / SCALE,
        "pxmax": (x + w) / SCALE, "pymax": (y + h) / SCALE,
    })


def points(rng: np.random.Generator, n: int) -> list[tuple[float, float]]:
    return list(zip(_lattice(rng, n) / SCALE, _lattice(rng, n) / SCALE))


def windows(rng: np.random.Generator, n: int, size: float) -> list[tuple]:
    """``n`` square query windows of side ``size`` inside the unit square."""
    span = int(SCALE * (1.0 - size))
    x, y = _lattice(rng, n, span) / SCALE, _lattice(rng, n, span) / SCALE
    return [(a, b, a + size, b + size) for a, b in zip(x, y)]


def shifts(rng: np.random.Generator, n: int) -> list[float]:
    """``n`` distinct x-shifts for the wrap-around position remap."""
    return [float(v) / SCALE for v in rng.choice(SCALE, n, replace=False)]
