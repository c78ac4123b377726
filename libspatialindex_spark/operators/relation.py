"""SpatialRelation — the engine's indexed-relation handle.

Plays the role of ``ISpatialIndex`` (reference
``include/spatialindex/SpatialIndex.h:193-214``): one spatial relation you
can query.  It wraps a DataFrame with MBR columns plus optional curve-key /
manifest metadata; operators accept it and exploit whatever metadata is
present:

* no ``z`` column  → full-scan with codegen'd exact predicates (still
  embarrassingly parallel, still pushed to parquet zone maps on x/y);
* ``z`` present    → driver Z-cover pruning (``plans/cover.py``) compiles to
  a ``z BETWEEN`` disjunction that hits parquet row-group stats;
* stored index     → additionally file/bucket pruning via the manifest.

It is one class at every dimension: its planner works on per-axis
(lo, hi) lists, and a 2-D relation is the d=2 case.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.config import DEFAULT, EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.operators.nd import NDBox, NDConfig
from libspatialindex_spark.plans.cover import z_cover_nd


def BoxCols(
    xmin: str = "xmin", ymin: str = "ymin", xmax: str = "xmax", ymax: str = "ymax"
) -> NDBox:
    """The 2-D box over four named columns."""
    return NDBox(((xmin, xmax), (ymin, ymax)))


def z_predicate(z_col: str, ranges: list[tuple[int, int]]) -> Column:
    """Coalesced Z ranges as a ``BETWEEN`` disjunction (parquet row-group
    stats prune on it); no range → ``false``."""
    if not ranges:
        return F.lit(False)
    z = F.col(z_col)
    pred = None
    for lo, hi in ranges:
        p = z.between(F.lit(lo), F.lit(hi))
        pred = p if pred is None else (pred | p)
    return pred


@dataclass
class SpatialRelation:
    """A queryable spatial relation at any dimension (entries are boxes +
    payload columns).

    ``box`` names the per-axis box columns (default ``xmin..ymax``) and
    ``conf`` carries the world (``axes``) and ``grid_bits``; a query
    window is passed flat, per-axis lows then highs — at d=2 exactly
    ``(xmin, ymin, xmax, ymax)``.  ``max_extent`` is the max entry extent
    per axis: it compensates center-indexing in the Z cover
    (``plans/cover.z_cover_nd`` ``expand``); None → unknown → no z prune.
    A stored index (``index_build.StoredIndex.relation``, no Spark job)
    also sets ``bucket_boxes`` ((bucket, lows, highs) per manifest
    bucket), ``file_boxes`` ((path, bucket, zmin, zmax, n_rows) per data
    file — z-disjoint within a bucket because the build sorts by z before
    splitting files) and ``data_path``.

    Pruning a window has three levels, each optional: manifest-MBR
    intersection (→ ``bucket IN`` partition filter,
    partitioner-agnostic); the Z cover of the window expanded by the max
    entry extent (→ ``z BETWEEN`` row-group filter); and, with a file map,
    a re-planned scan over only the files whose [zmin, zmax] zone meets
    the cover (the ZM learned index's in-node skip,
    ``LearnedIndex.cc:1494-1507``)."""

    df: DataFrame
    conf: EngineConfig | NDConfig = field(default_factory=lambda: DEFAULT)
    box: NDBox = field(default_factory=NDBox)
    z_col: str | None = None
    max_extent: tuple[float, ...] | None = None
    bucket_boxes: list = field(default_factory=list)
    file_boxes: list = field(default_factory=list)
    data_path: str | None = None

    def window(self, w) -> tuple[list, list]:
        """A flat window (d lows, then d highs) as (lows, highs) lists."""
        d = self.box.d
        if len(w) != 2 * d:
            raise ValueError(
                f"a {d}-d window is {2 * d} numbers (lows, then highs), "
                f"got {len(w)}"
            )
        return list(w[:d]), list(w[d:])

    def with_z(self) -> "SpatialRelation":
        """Attach the Morton key of the box center (codegen, no UDF)."""
        if self.z_col:
            return self
        z = curves.z_key_nd(
            self.box.centers(), list(self.conf.axes), self.conf.grid_bits
        )
        return replace(self, df=self.df.withColumn("z", z), z_col="z")

    def box_plan(self, qlo, qhi) -> tuple:
        """(hit buckets or None = no bucket metadata, z predicate or None
        = no z prune, file subset or None = no file-level re-plan)."""
        hit: list | None = None
        if self.bucket_boxes:
            hit = [
                b for b, lows, highs in self.bucket_boxes
                if all(
                    not (lo > qh or hi < ql)
                    for lo, hi, ql, qh in zip(lows, highs, qlo, qhi)
                )
            ]
        pred = None
        ranges: list[tuple[int, int]] = []
        if self.z_col and self.max_extent is not None:
            cov = z_cover_nd(
                qlo, qhi, list(self.conf.axes), self.conf.grid_bits,
                expand=max(self.max_extent),
            )
            ranges = cov.coalesced(max_ranges=16)
            pred = z_predicate(self.z_col, ranges)
        files: list | None = None
        if (
            self.file_boxes and ranges and self.data_path is not None
            and (hit is None or hit)
        ):
            hset = set(hit) if hit is not None else None
            cand = [
                p
                for p, b, z0, z1, *_ in self.file_boxes
                if (hset is None or b in hset)
                and any(not (z0 > rhi or z1 < rlo) for rlo, rhi in ranges)
            ]
            if len(cand) < len(self.file_boxes):
                files = cand
        return hit, pred, files

    def pruned_for_box(self, *w) -> DataFrame:
        """The relation pruned for the flat window ``w``: a full scan
        without a materialized z column and an extent bound."""
        hit, pred, files = self.box_plan(*self.window(w))
        df = self.df
        if hit is not None:
            if not hit:
                return df.filter(F.lit(False))
            if len(hit) < len(self.bucket_boxes):
                df = df.filter(F.col("bucket").isin(hit))
        if files is not None:
            if not files:
                return df.filter(F.lit(False))
            df = (
                self.df.sparkSession.read.schema(self.df.schema)
                .option("basePath", self.data_path)
                .parquet(*files)
            )
        return df if pred is None else df.filter(pred)

    def files_planned_for_box(self, *w) -> int:
        """Files the pruned plan can touch AFTER partition pruning.
        ``pruned.inputFiles()`` ignores the ``bucket IN`` partition filter
        (it lists the whole relation — ADVICE r3), so this derives the
        count from the same selection :meth:`pruned_for_box` executes: the
        file-map subset when that re-plan fires, else the listing
        restricted to surviving bucket directories."""
        hit, _pred, files = self.box_plan(*self.window(w))
        if hit is not None and not hit:
            return 0
        if files is not None:
            return len(files)
        all_files = self.df.inputFiles()
        if hit is not None and len(hit) < len(self.bucket_boxes):
            tags = tuple(f"/bucket={b}/" for b in hit)
            return sum(1 for p in all_files if any(t in p for t in tags))
        return len(all_files)
