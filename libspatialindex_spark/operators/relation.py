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
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.config import DEFAULT, EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.plans.cover import Cover


@dataclass
class BoxCols:
    xmin: str = "xmin"
    ymin: str = "ymin"
    xmax: str = "xmax"
    ymax: str = "ymax"

    def cols(self, df: DataFrame) -> tuple[Column, Column, Column, Column]:
        return (df[self.xmin], df[self.ymin], df[self.xmax], df[self.ymax])


@dataclass
class SpatialRelation:
    """A queryable spatial relation (entries are MBRs + payload columns)."""

    df: DataFrame
    conf: EngineConfig = field(default_factory=lambda: DEFAULT)
    box: BoxCols = field(default_factory=BoxCols)
    z_col: str | None = None
    # Max entry extent per axis; compensates center-indexing in the Z cover
    # (see plans/cover.z_cover ``expand``).  None → unknown → computed or
    # pruning skipped.
    max_extent: tuple[float, float] | None = None

    def with_z(self) -> "SpatialRelation":
        """Attach the Morton key of the MBR center (codegen, no UDF)."""
        if self.z_col:
            return self
        cx = (F.col(self.box.xmin) + F.col(self.box.xmax)) / 2
        cy = (F.col(self.box.ymin) + F.col(self.box.ymax)) / 2
        df = self.df.withColumn("z", curves.z_key(cx, cy, self.conf))
        return replace(self, df=df, z_col="z")

    # -- planning helpers ---------------------------------------------------

    def expand_radius(self) -> float | None:
        """Half-extent to expand query windows by when pruning on center-Z."""
        if self.max_extent is None:
            return None
        return max(self.max_extent) / 2.0

    def z_range_predicate(self, cov: Cover) -> Column | None:
        """Compile a Z cover into a BETWEEN disjunction (or None = no prune)."""
        if not self.z_col:
            return None
        ranges = cov.coalesced(max_ranges=16)
        if not ranges:
            return F.lit(False)
        z = F.col(self.z_col)
        pred = None
        for lo, hi in ranges:
            p = z.between(F.lit(lo), F.lit(hi))
            pred = p if pred is None else (pred | p)
        return pred

    def pruned(self, cov: Cover) -> DataFrame:
        pred = self.z_range_predicate(cov)
        return self.df if pred is None else self.df.filter(pred)

    def pruned_for_box(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float
    ) -> DataFrame:
        """Prune the relation for a query window.  Base: Z-cover predicate
        when a materialized z column + extent bound exist, else full scan.
        StoredRelation overrides with manifest-MBR bucket pruning."""
        if not self.z_col:
            return self.df
        expand = self.expand_radius()
        if expand is None:
            return self.df
        from libspatialindex_spark.plans.cover import z_cover

        cov = z_cover(qxmin, qymin, qxmax, qymax, self.conf, expand=2 * expand)
        return self.pruned(cov)
