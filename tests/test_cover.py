"""Pure-Python planner tests: quadtree Z cover properties (the d=2 walk of
``z_cover_nd``)."""

import numpy as np

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.functions.curves import np_z_key
from libspatialindex_spark.plans.cover import z_cover_nd

CONF = EngineConfig(grid_bits=8)  # small grid → exhaustive checks feasible


def z_cover(qxmin, qymin, qxmax, qymax, conf, **kw):
    return z_cover_nd(
        [qxmin, qymin], [qxmax, qymax], list(conf.axes), conf.grid_bits, **kw
    )


def _in_ranges(z, ranges):
    return any(lo <= z <= hi for lo, hi in ranges)


def test_cover_is_sound_and_tight():
    """Uncapped: every point in the window is covered; far points are not.

    (With the max_cells cap the cover stays SOUND but coarsens — tightness
    only holds uncapped; see test_capped_cover_is_sound_superset.)
    """
    rng = np.random.default_rng(42)
    q = (0.2, 0.3, 0.45, 0.55)
    cov = z_cover(*q, CONF, max_cells=10**6)
    ranges = cov.all_ranges
    pts = rng.random((2000, 2))
    z = np_z_key(pts[:, 0], pts[:, 1], CONF)
    cell = 1.0 / CONF.grid_n
    for (x, y), zz in zip(pts, z):
        inside = q[0] <= x <= q[2] and q[1] <= y <= q[3]
        if inside:
            assert _in_ranges(zz, ranges), (x, y)
        # Outside by more than one cell → must be excluded.
        far = (
            x < q[0] - cell or x > q[2] + cell
            or y < q[1] - cell or y > q[3] + cell
        )
        if far:
            assert not _in_ranges(zz, ranges), (x, y)


def test_full_cells_are_really_inside():
    q = (0.1, 0.1, 0.9, 0.9)
    cov = z_cover(*q, CONF)
    assert cov.full  # a big window must produce containment short-circuits
    rng = np.random.default_rng(7)
    pts = rng.random((3000, 2))
    z = np_z_key(pts[:, 0], pts[:, 1], CONF)
    for (x, y), zz in zip(pts, z):
        if _in_ranges(zz, cov.full):
            assert q[0] <= x <= q[2] and q[1] <= y <= q[3]


def test_coalesced_is_superset_and_bounded():
    cov = z_cover(0.11, 0.22, 0.33, 0.44, EngineConfig(grid_bits=16))
    co = cov.coalesced(max_ranges=16)
    assert len(co) <= 16
    for lo, hi in cov.all_ranges:
        assert any(clo <= lo and hi <= chi for clo, chi in co)


def test_capped_cover_is_sound_superset():
    """A tiny max_cells forces coarsening; the capped cover must contain
    every range of the uncapped one (superset ⇒ no false negatives)."""
    q = (0.2, 0.3, 0.45, 0.55)
    tight = z_cover(*q, CONF, max_cells=10**6).all_ranges
    coarse = z_cover(*q, CONF, max_cells=8).all_ranges
    for lo, hi in tight:
        assert any(clo <= lo and hi <= chi for clo, chi in coarse)


def test_disjoint_window_empty():
    cov = z_cover(2.0, 2.0, 3.0, 3.0, CONF)
    assert cov.all_ranges == []


def test_expand_compensates_center_indexing():
    # An entry centered just outside the window whose box reaches in must
    # be covered once the window is expanded by the max extent.
    cov = z_cover(0.5, 0.5, 0.6, 0.6, CONF, expand=0.05)
    z = np_z_key(np.array([0.48]), np.array([0.55]), CONF)[0]
    assert _in_ranges(z, cov.all_ranges)
