"""Per-partition lineage manifests — the driver-side "upper tree levels".

The reference persists a header page (rootID, capacities, stats —
``src/rtree/RTree.cc:1445-1551``) plus an index-node hierarchy whose entries
are (child MBR, child page id).  The distributed analog is a small manifest
table with one row per range bucket:

    bucket, zmin, zmax, xmin, ymin, xmax, ymax, n_rows, n_bytes,
    max_ex, max_ey, build_id

It serves four roles at once (SURVEY.md §2.2 M3/M4, §2.5 A3):
* **root/index nodes** — driver prunes buckets whose [zmin, zmax] misses the
  query's Z cover before Spark even plans the scan.  Like the reference's
  ``loadHeader`` (``RTree.cc:1505-1551``) the table is read on the driver
  (:func:`read_rows`, pyarrow over ``plans/fs``), so planning a query runs
  no Spark job;
* **lineage / checkpoint** — a bucket is committed iff its manifest row
  exists; resume anti-joins planned buckets against the manifest;
* **metrics** — rows/bytes per bucket expose skew (Statistics.cc analog);
* **validity check** — recomputing per-bucket aggregates and diffing against
  the manifest is ``isIndexValid()`` (``SpatialIndex.h:209``).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from libspatialindex_spark.plans import fs as FS

MANIFEST_COLS = [
    "bucket", "zmin", "zmax", "xmin", "ymin", "xmax", "ymax",
    "n_rows", "n_bytes", "max_ex", "max_ey", "build_id",
]

# Explicit schema — pandas round-trips (manifest rewrite on delete) must not
# depend on inference, which fails on an empty frame.
MANIFEST_SCHEMA = (
    "bucket long, zmin long, zmax long, "
    "xmin double, ymin double, xmax double, ymax double, "
    "n_rows long, n_bytes long, max_ex double, max_ey double, "
    "build_id string"
)


def manifest_for(
    df: DataFrame,
    bucket_col: str = "bucket",
    z_col: str = "z",
    box=("xmin", "ymin", "xmax", "ymax"),
    bytes_col: str | None = None,
    build_id: str = "build-0",
) -> DataFrame:
    """Aggregate the manifest row set for ``df`` (one row per bucket).

    A single map-side-combined groupBy — no extra shuffle beyond the
    aggregation itself.
    """
    xmin, ymin, xmax, ymax = box
    nbytes = (
        F.sum(F.length(F.col(bytes_col))) if bytes_col else F.lit(0)
    ).cast("long")
    # Cast: a re-read bucket is a partition-dir column (int32) while a
    # pre-write bucket is int64 — normalize so manifest files never mix.
    return df.groupBy(F.col(bucket_col).cast("long").alias("bucket")).agg(
        F.min(z_col).alias("zmin"),
        F.max(z_col).alias("zmax"),
        F.min(xmin).alias("xmin"),
        F.min(ymin).alias("ymin"),
        F.max(xmax).alias("xmax"),
        F.max(ymax).alias("ymax"),
        F.count(F.lit(1)).alias("n_rows"),
        nbytes.alias("n_bytes"),
        F.max(F.col(xmax) - F.col(xmin)).alias("max_ex"),
        F.max(F.col(ymax) - F.col(ymin)).alias("max_ey"),
        F.lit(build_id).alias("build_id"),
    )


def manifest_path(index_path: str) -> str:
    return FS.join(index_path, "manifest")


def parquet_files(fs, path: str) -> list[str]:
    """Data files of the parquet table at ``path`` (Spark's hidden-file
    rule: names starting with ``_`` or ``.`` are not data)."""
    return sorted(
        f for f in fs.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def read_rows(fs, path: str) -> list[dict] | None:
    """Rows of the small parquet table at ``path`` (a manifest or file
    map), read on the driver with pyarrow — no Spark job, no schema
    inference.  ``None`` when the table has no data file; ``[]`` for a
    written-empty table.  Files are converted one by one: Spark marks a
    column required or optional per write, so appended files' arrow
    schemas need not match."""
    files = parquet_files(fs, path)
    if not files:
        return None
    rows: list[dict] = []
    for f in files:
        buf = pa.BufferReader(fs.read_bytes(FS.join(path, f)))
        rows += pq.read_table(buf).to_pylist()
    return rows


def rollup(
    rows: list[dict], mins=(), maxs=(), sums=("n_rows",)
) -> list[dict]:
    """Per-bucket totals of manifest ``rows`` on the driver (a bucket has
    one row per build or insert batch), sorted by bucket.  List-valued
    columns (the N-d per-axis bounds) merge element-wise."""

    def merge(f, a, b):
        return [f(x, y) for x, y in zip(a, b)] if isinstance(a, list) else f(a, b)

    out: dict[int, dict] = {}
    for r in rows:
        e = out.get(r["bucket"])
        if e is None:
            out[r["bucket"]] = {c: r[c] for c in ("bucket", *mins, *maxs, *sums)}
            continue
        for c in mins:
            e[c] = merge(min, e[c], r[c])
        for c in maxs:
            e[c] = merge(max, e[c], r[c])
        for c in sums:
            e[c] += r[c]
    return [out[b] for b in sorted(out)]


def committed_buckets(spark: SparkSession, index_path: str) -> set[int]:
    rows = read_rows(FS.get_fs(spark, index_path), manifest_path(index_path))
    return {r["bucket"] for r in rows or []}


class StoredLayout:
    """Driver-side view of a stored index's directory layout, shared by
    the 2-D and N-d index handles (which supply ``spark`` and ``path``).

    Opening the index for a query runs no Spark job: the manifest and
    the file map are read on the driver (:func:`read_rows`) and the data
    root is scanned with a schema inferred once per handle."""

    manifest_schema = MANIFEST_SCHEMA

    @property
    def fs(self):
        return FS.get_fs(self.spark, self.path)

    @property
    def data_path(self) -> str:
        return FS.join(self.path, "data")

    @property
    def manifest_path(self) -> str:
        return manifest_path(self.path)

    @property
    def filemap_path(self) -> str:
        return FS.join(self.path, "filemap")

    def data_schema(self) -> StructType:
        """The data root's schema, inferred once per handle (inference
        reads a parquet footer in a Spark job); every later read passes it
        and runs no job.  Inferred from one live ``bucket=N`` dir, so the
        ``bucket=N.old`` asides of a delete/compact swap (or of a crash
        before ``recover()``) can never make ``bucket`` a string."""
        if getattr(self, "_data_schema", None) is None:
            live = [
                n for n in self.fs.listdir(self.data_path)
                if n.startswith("bucket=") and not n.endswith(".old")
            ]
            paths = [FS.join(self.data_path, n) for n in live[:1]]
            self._data_schema = (
                self.spark.read.option("basePath", self.data_path)
                .parquet(*(paths or [self.data_path]))
                .schema
            )
        return self._data_schema

    def data(self) -> DataFrame:
        return self.spark.read.schema(self.data_schema()).parquet(self.data_path)

    def manifest_rows(self) -> list[dict]:
        rows = read_rows(self.fs, self.manifest_path)
        if rows is None:
            raise FileNotFoundError(f"no manifest under {self.path}")
        return rows

    def manifest(self) -> DataFrame:
        """The manifest as a DataFrame (read with its fixed schema, so no
        inference job)."""
        if not parquet_files(self.fs, self.manifest_path):
            raise FileNotFoundError(f"no manifest under {self.path}")
        return self.spark.read.schema(self.manifest_schema).parquet(
            self.manifest_path
        )

    def file_map(self) -> DataFrame | None:
        """Per-FILE zone map (path, bucket, zmin, zmax, n_rows) — the
        third index level (sub-bucket), written by builds with
        ``max_records_per_file`` and invalidated by mutations (rebuild via
        ``index_build.refresh_file_map``).  The Morton key is a scalar
        long at any dimension, so the map is dimension-blind."""
        if not parquet_files(self.fs, self.filemap_path):
            return None
        return self.spark.read.parquet(self.filemap_path)
