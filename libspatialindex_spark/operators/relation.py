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

:class:`BoxPruning` is that planner, shared by the 2-D relation and the
N-d one (``operators/nd.py``): it works on per-axis (lo, hi) lists at any
dimension.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.config import DEFAULT, EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.plans.cover import z_cover_nd


@dataclass
class BoxCols:
    xmin: str = "xmin"
    ymin: str = "ymin"
    xmax: str = "xmax"
    ymax: str = "ymax"

    def cols(self, df: DataFrame) -> tuple[Column, Column, Column, Column]:
        return (df[self.xmin], df[self.ymin], df[self.xmax], df[self.ymax])

    @staticmethod
    def of(dims) -> "BoxCols":
        """The 2-D box of per-axis ``(lo, hi)`` column pairs."""
        (xmin, xmax), (ymin, ymax) = dims
        return BoxCols(xmin, ymin, xmax, ymax)


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


class BoxPruning:
    """Driver-side pruning of a query window given as per-axis ``qlo`` /
    ``qhi`` lists — one planner for every relation and dimension.

    Uses the relation's ``df``, ``conf`` (``axes``, ``grid_bits``),
    ``z_col`` and ``max_extent``.  A stored relation also sets
    ``bucket_boxes`` ((bucket, lows, highs) per manifest bucket),
    ``file_boxes`` ((path, bucket, zmin, zmax, n_rows) per data file —
    z-disjoint within a bucket because the build sorts by z before
    splitting files) and ``data_path``.

    Three levels, each optional: manifest-MBR intersection (→ ``bucket
    IN`` partition filter, partitioner-agnostic); the Z cover of the
    window expanded by the max entry extent (→ ``z BETWEEN`` row-group
    filter); and, with a file map, a re-planned scan over only the files
    whose [zmin, zmax] zone meets the cover (the ZM learned index's
    in-node skip, ``LearnedIndex.cc:1494-1507``)."""

    bucket_boxes: list = ()
    file_boxes: list = ()
    data_path: str | None = None

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

    def _pruned(self, qlo, qhi) -> DataFrame:
        hit, pred, files = self.box_plan(qlo, qhi)
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

    def _files_planned(self, qlo, qhi) -> int:
        """Files the pruned plan can touch AFTER partition pruning.
        ``pruned.inputFiles()`` ignores the ``bucket IN`` partition filter
        (it lists the whole relation — ADVICE r3), so this derives the
        count from the same selection :meth:`_pruned` executes: the
        file-map subset when that re-plan fires, else the listing
        restricted to surviving bucket directories."""
        hit, _pred, files = self.box_plan(qlo, qhi)
        if hit is not None and not hit:
            return 0
        if files is not None:
            return len(files)
        all_files = self.df.inputFiles()
        if hit is not None and len(hit) < len(self.bucket_boxes):
            tags = tuple(f"/bucket={b}/" for b in hit)
            return sum(1 for p in all_files if any(t in p for t in tags))
        return len(all_files)


@dataclass
class SpatialRelation(BoxPruning):
    """A queryable spatial relation (entries are MBRs + payload columns)."""

    df: DataFrame
    conf: EngineConfig = field(default_factory=lambda: DEFAULT)
    box: BoxCols = field(default_factory=BoxCols)
    z_col: str | None = None
    # Max entry extent per axis; compensates center-indexing in the Z cover
    # (see plans/cover.z_cover_nd ``expand``).  None → unknown → pruning
    # skipped.
    max_extent: tuple[float, float] | None = None

    def with_z(self) -> "SpatialRelation":
        """Attach the Morton key of the MBR center (codegen, no UDF)."""
        if self.z_col:
            return self
        cx = (F.col(self.box.xmin) + F.col(self.box.xmax)) / 2
        cy = (F.col(self.box.ymin) + F.col(self.box.ymax)) / 2
        df = self.df.withColumn("z", curves.z_key(cx, cy, self.conf))
        return replace(self, df=df, z_col="z")

    def pruned_for_box(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float
    ) -> DataFrame:
        """Prune the relation for a query window (:class:`BoxPruning`):
        full scan without a materialized z column and an extent bound."""
        return self._pruned([qxmin, qymin], [qxmax, qymax])

    def files_planned_for_box(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float
    ) -> int:
        return self._files_planned([qxmin, qymin], [qxmax, qymax])
