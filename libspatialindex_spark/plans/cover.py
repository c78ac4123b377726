"""Driver-side query planning: quadtree cell cover → Morton key ranges.

This is the Spark analog of the reference's tree descent
(``src/rtree/RTree.cc:1763-1803``): instead of visiting index nodes, the
driver walks an *implicit* quadtree over the Morton grid and emits
contiguous Z-key ranges that cover the query window.  Those ranges become

* partition pruning (ranges intersected against the index manifest's
  per-partition ``[zmin, zmax]``), and
* a codegen'd ``z BETWEEN lo AND hi`` disjunction that parquet row-group
  zone maps also prune on.

Cells *fully inside* the window are returned separately ("full" ranges) so
the exact per-row predicate can be skipped for them — the containment
short-circuit of ``RTree.cc:705-708``.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from libspatialindex_spark.functions.curves import z_of_cell_nd


@dataclass(frozen=True)
class Cover:
    """Z-ranges covering a query window (closed on both ends)."""

    full: list[tuple[int, int]]  # cells fully inside the window
    partial: list[tuple[int, int]]  # boundary cells, need exact predicate

    @property
    def all_ranges(self) -> list[tuple[int, int]]:
        return _merge(sorted(self.full + self.partial))

    def coalesced(self, max_ranges: int = 16) -> list[tuple[int, int]]:
        """All ranges, merged down to ≤ ``max_ranges`` by closing the
        smallest gaps first.  Coarser ranges are supersets of the cover, so
        downstream exact predicates keep correctness; the bound keeps the
        compiled ``OR BETWEEN`` chain small (huge boolean trees send
        Catalyst's CNF conversion into exponential blow-up)."""
        ranges = self.all_ranges
        if len(ranges) <= max_ranges:
            return ranges
        gaps = sorted(
            range(1, len(ranges)),
            key=lambda i: ranges[i][0] - ranges[i - 1][1],
            reverse=True,
        )
        keep_break = set(gaps[: max_ranges - 1])
        out: list[tuple[int, int]] = []
        for i, r in enumerate(ranges):
            if i == 0 or i in keep_break:
                out.append(r)
            else:
                out[-1] = (out[-1][0], r[1])
        return out


def _merge(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out: list[tuple[int, int]] = []
    for lo, hi in ranges:
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def z_cover_nd(
    qlo: list[float],
    qhi: list[float],
    axes: list[tuple[float, float]],
    grid_bits: int,
    max_cells: int = 256,
    expand: float = 0.0,
) -> Cover:
    """Cover of the (expanded) query window ``[qlo, qhi]`` as closed
    Z-key ranges, over the grid of ``grid_bits`` bits per axis on
    ``axes`` (per-axis (lo, hi) world extents).

    ``expand`` grows the window by the dataset's max entry extent so that
    entries indexed by their MBR *center* whose box still reaches into the
    window are not pruned away (center-indexing compensation).

    The walk is an explicit-stack 2^d-ary tree descent (quadtree at d=2,
    octree at d=3), mirroring the explicit-stack DFS of
    ``RTree.cc:1763-1803``; a level-L block is a *contiguous* d-way Morton
    range at full resolution, so each emitted block is one ``BETWEEN``.
    Blocks stop splitting once ``max_cells`` are emitted."""
    d = len(axes)
    qlo = [q - expand for q in qlo]
    qhi = [q + expand for q in qhi]
    for (wlo, whi), lo, hi in zip(axes, qlo, qhi):
        if lo > whi or hi < wlo:
            return Cover(full=[], partial=[])

    gb = grid_bits
    n = 1 << gb
    steps = [(whi - wlo) / n for wlo, whi in axes]
    full: list[tuple[int, int]] = []
    partial: list[tuple[int, int]] = []
    stack: list[tuple[int, tuple[int, ...]]] = [(0, (0,) * d)]

    def block_range(level: int, cells: tuple[int, ...]) -> tuple[int, int]:
        shift = d * (gb - level)
        base = z_of_cell_nd(cells) << shift
        return (base, base + (1 << shift) - 1)

    while stack:
        level, cells = stack.pop()
        s = 1 << (gb - level)
        blo = [axes[a][0] + cells[a] * s * steps[a] for a in range(d)]
        bhi = [axes[a][0] + (cells[a] + 1) * s * steps[a] for a in range(d)]
        # Closed-interval intersection (Region.cc:264-276 semantics).
        if any(blo[a] > qhi[a] or bhi[a] < qlo[a] for a in range(d)):
            continue
        if all(qlo[a] <= blo[a] and bhi[a] <= qhi[a] for a in range(d)):
            full.append(block_range(level, cells))
            continue
        if level == gb or len(full) + len(partial) >= max_cells:
            partial.append(block_range(level, cells))
            continue
        for deltas in itertools.product((0, 1), repeat=d):
            stack.append(
                (level + 1, tuple(2 * c + dd for c, dd in zip(cells, deltas)))
            )

    return Cover(full=_merge(sorted(full)), partial=_merge(sorted(partial)))
