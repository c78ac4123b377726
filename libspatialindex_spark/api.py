"""Public API facade echoing the reference's C API surface (SURVEY.md §2.7,
``include/spatialindex/capi/sidx_api.h``).

The C API is what language bindings (Python's ``rtree`` package) call; this
module is the equivalent binding layer for the Spark engine: one ``Index``
handle with methods named after their ``sidx_api.h`` counterparts.

=====================================  ====================================
sidx_api.h                             here
=====================================  ====================================
``Index_Create / CreateWithStream``    ``Index.create(df, path, …)`` (bulk)
``Index_InsertData``                   ``Index.insert(df)``
``Index_DeleteData``                   ``Index.delete(ids)``
``Index_Intersects_obj`` (:127)        ``Index.intersects(window)``
``Index_Contains_obj`` (:134-158)      ``Index.contains(window)``
``Index_NearestNeighbors_obj`` (:173)  ``Index.nearest(point, k)``
``Index_Intersects_count`` (:193)      ``Index.intersects_count(window)``
``Index_Contains_count`` (:199)        ``Index.contains_count(window)``
``Index_GetBounds`` (:266)             ``Index.bounds()``
``Index_GetLeaves`` (:272)             ``Index.leaves()`` (manifest rows)
``Index_SetResultSetOffset/Limit``     ``offset=/limit=`` kwargs
``Index_IsValid``                      ``Index.is_valid()``
=====================================  ====================================

Offset/limit are deterministic here (ordered by id) where the reference
uses traversal order — documented divergence (SURVEY.md A2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from libspatialindex_spark.config import DEFAULT, EngineConfig
from libspatialindex_spark.operators import (
    index_build,
    knn,
    mutations,
    range_query,
)
from libspatialindex_spark.operators.nd import NDBox, NDConfig

Window = tuple[float, float, float, float]


@dataclass
class Index:
    """A stored spatial index handle (the ``IndexH`` analog)."""

    stored: index_build.StoredIndex
    box: NDBox

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        df: DataFrame,
        path: str,
        conf: EngineConfig = DEFAULT,
        box: NDBox | None = None,
        **build_kwargs,
    ) -> "Index":
        """Bulk load (``Index_CreateWithStream``); see
        :func:`operators.index_build.build_index` for partitioner options."""
        box = box or NDBox()
        return cls(
            stored=index_build.build_index(df, path, conf, box=box, **build_kwargs),
            box=box,
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        conf: EngineConfig = DEFAULT,
        box: NDBox | None = None,
    ) -> "Index":
        """Open a stored index; ``box`` defaults to its persisted box
        columns."""
        stored = index_build.load_index(spark, path, conf)
        return cls(stored=stored, box=box or stored.box)

    def _rel(self):
        return self.stored.relation(self.box)

    @staticmethod
    def _page(df: DataFrame, order_by: str, offset: int, limit: int | None):
        if offset or limit is not None:
            return range_query.with_offset_limit(df, order_by, offset, limit)
        return df

    # -- queries -------------------------------------------------------------

    def intersects(self, w: Window, offset: int = 0, limit: int | None = None,
                   order_by: str = "id") -> DataFrame:
        return self._page(
            range_query.intersects_query(self._rel(), *w), order_by, offset, limit
        )

    def contains(self, w: Window, offset: int = 0, limit: int | None = None,
                 order_by: str = "id") -> DataFrame:
        return self._page(
            range_query.contains_what_query(self._rel(), *w), order_by, offset, limit
        )

    def nearest(self, px: float, py: float, k: int) -> DataFrame:
        return knn.knn_query(self._rel(), px, py, k)

    def nearest_box(self, w: Window, k: int) -> DataFrame:
        """kNN against a min/max BOX query shape — the
        ``Index_NearestNeighbors_obj`` surface (``sidx_api_test.h:87``
        passes a Region; distance per ``Region.cc:314-338``)."""
        return knn.knn_box_query(self._rel(), *w, k)

    def nearest_custom(self, dist2_expr, k: int) -> DataFrame:
        """kNN under a caller-supplied distance Column — the
        ``INearestNeighborComparator`` overload (``RTree.cc:744``)."""
        return knn.knn_query_custom(self._rel(), dist2_expr, k)

    def nearest_segment(
        self, x1: float, y1: float, x2: float, y2: float, k: int
    ) -> DataFrame:
        """kNN against a LineSegment query shape (true clamped
        segment↔box metric — the reference's Region overload is
        unimplemented, ``LineSegment.cc:233-244``)."""
        return knn.knn_segment_query(self._rel(), x1, y1, x2, y2, k)

    def intersects_count(self, w: Window) -> int:
        return range_query.count_intersects(self._rel(), *w).collect()[0]["n"]

    def contains_count(self, w: Window) -> int:
        return range_query.count_contains(self._rel(), *w).collect()[0]["n"]

    def bounds(self) -> tuple[float, float, float, float]:
        """``Index_GetBounds``: the root MBR, rolled up on the driver from
        the manifest's exact per-bucket MBRs — the reference reads its
        root node's MBR the same way (``RTreeQuery.cc:166-184``), with no
        data scan.  ``(None,) * 4`` for an empty index."""
        return self.stored.bounds()

    def leaves(self) -> DataFrame:
        """``Index_GetLeaves``: the bucket manifest (id ranges live in the
        bucket files; per-bucket MBR + counts here)."""
        return self.stored.manifest_totals()

    # -- mutations ------------------------------------------------------------

    def insert(self, rows: DataFrame, build_id: str = "insert") -> "Index":
        mutations.insert_batch(self.stored, rows, box=self.box, build_id=build_id)
        return self

    def delete(self, victims: DataFrame, id_col: str = "id") -> "Index":
        mutations.delete_rows(self.stored, victims, id_col=id_col, box=self.box)
        return self

    def is_valid(self) -> bool:
        return self.stored.validate()

    def recover(self) -> "Index":
        """Finish an interrupted insert/delete swap (crash recovery)."""
        mutations.recover(self.stored)
        return self

    def compact(self, max_files_per_bucket: int = 1, **kw) -> "Index":
        """M3 maintenance: merge insert-accumulated bucket files back into
        the build-time layout (the reference's flush/reorganization)."""
        mutations.compact(
            self.stored, max_files_per_bucket=max_files_per_bucket, **kw
        )
        return self


@dataclass
class IndexND:
    """N-dimensional index handle — the C API's ``Dimension`` property
    honored beyond 2 (``Index_Create`` accepts any dimension > 1,
    ``src/rtree/RTree.cc:306-308``; the fork ships 3-D drivers for every
    index family).  Same method surface as :class:`Index`, with per-axis
    lo/hi lists in place of 4-tuples; both run the same query bodies."""

    stored: index_build.StoredIndex

    @classmethod
    def create(cls, df: DataFrame, path: str, axes, dims, **kw) -> "IndexND":
        conf = NDConfig(axes=tuple(tuple(a) for a in axes))
        box = NDBox(dims=tuple(tuple(d) for d in dims))
        return cls(stored=index_build.build_index(df, path, conf, box, **kw))

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IndexND":
        return cls(stored=index_build.load_index(spark, path, NDConfig()))

    def _rel(self):
        return self.stored.relation()

    def intersects(self, qlo, qhi, offset: int = 0, limit: int | None = None,
                   order_by: str = "id") -> DataFrame:
        out = range_query.intersects_query(self._rel(), *qlo, *qhi)
        return Index._page(out, order_by, offset, limit)

    def contains(self, qlo, qhi) -> DataFrame:
        return range_query.contains_what_query(self._rel(), *qlo, *qhi)

    def nearest(self, pt, k: int) -> DataFrame:
        return knn.knn_query(self._rel(), *pt, k)

    def nearest_box(self, qlo, qhi, k: int) -> DataFrame:
        """kNN against a d-dim Region query shape (RTree.cc:744-746 at
        any dimension)."""
        return knn.knn_box_query(self._rel(), *qlo, *qhi, k)

    def intersects_count(self, qlo, qhi) -> int:
        return range_query.count_intersects(
            self._rel(), *qlo, *qhi
        ).collect()[0]["n"]

    def bounds(self) -> tuple:
        """Root MBR from the manifest roll-up, as :meth:`Index.bounds`."""
        return self.stored.bounds()

    # -- mutations (the generic staged protocol in operators/mutations) ------

    def insert(self, rows: DataFrame, build_id: str = "insert",
               idempotent: bool = False) -> "IndexND":
        mutations.insert_batch(
            self.stored, rows, build_id=build_id, idempotent=idempotent
        )
        return self

    def delete(self, victims: DataFrame, id_col: str = "id") -> "IndexND":
        mutations.delete_rows(self.stored, victims, id_col=id_col)
        return self

    def recover(self) -> "IndexND":
        mutations.recover(self.stored)
        return self

    def is_valid(self) -> bool:
        return self.stored.validate()
