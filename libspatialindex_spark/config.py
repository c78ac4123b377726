"""Engine configuration.

Plays the role of the reference's ``Tools::PropertySet`` construction-time
properties (reference ``src/rtree/RTree.cc:306-355``: Dimension, IndexCapacity,
LeafCapacity, FillFactor, TreeVariant ...) re-shaped for a distributed layout:
instead of node capacities we size partitions; instead of a tree variant we
pick a curve + partitioner.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Layout + execution knobs for the two-level index.

    Attributes
    ----------
    grid_bits:
        Per-axis bits of the global grid (resolution ``2**grid_bits`` cells
        per axis).  The Morton/Z key interleaves ``grid_bits`` bits of x and
        y.  16 bits ≈ 65k×65k cells — enough that at 10^12 rows a cell holds
        ~250 rows on average; the *partitioning* granularity is separate
        (``target_partitions``), so grid_bits only bounds prune resolution.
    target_partitions:
        Number of range partitions for the global level (the STR "slab"
        count, reference ``src/rtree/BulkLoader.cc:328-387``).  On a real
        cluster: ~2-4× total cores; sized so a partition's rows fit in
        executor memory at the target scale factor.
    world:
        (xmin, ymin, xmax, ymax) of the indexed space.  The synthetic data
        lives in the unit square, matching the reference generator
        (``test/rtree/Generator.cc:66-91``).
    hot_cell_salt:
        Max salt fan-out applied to skewed cells in spatial joins
        (LISA tie-advance precedent, ``BulkLoader.cc:543-556``).
    tile_bits:
        Per-axis bits of the raster tile grid used by the tiling stage.

    The kNN ring schedule is not a knob: every kNN starts at
    ``knn.RING_INIT`` and grows by ``knn.RING_GROWTH``.
    """

    grid_bits: int = 16
    target_partitions: int = 32
    world: tuple[float, float, float, float] = (0.0, 0.0, 1.0, 1.0)
    hot_cell_salt: int = 16
    tile_bits: int = 6  # 64×64 tiles
    extra_spark_conf: dict = field(default_factory=dict)

    @property
    def axes(self) -> tuple[tuple[float, float], ...]:
        """``world`` as per-axis (lo, hi) pairs — the layout of a stored
        index, which is dimension-generic (``index_build``)."""
        xmin, ymin, xmax, ymax = self.world
        return ((xmin, xmax), (ymin, ymax))

    @property
    def grid_n(self) -> int:
        return 1 << self.grid_bits

    @property
    def tile_n(self) -> int:
        return 1 << self.tile_bits


DEFAULT = EngineConfig()
