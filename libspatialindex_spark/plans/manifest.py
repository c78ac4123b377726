"""Per-partition lineage manifests — the driver-side "upper tree levels".

The reference persists a header page (rootID, capacities, stats —
``src/rtree/RTree.cc:1445-1551``) plus an index-node hierarchy whose entries
are (child MBR, child page id).  The distributed analog is a small manifest
table with one row per range bucket and write (build or insert batch),
at every dimension:

    bucket, zmin, zmax, n_rows, n_bytes, lows, highs, max_ext, build_id

``lows`` / ``highs`` / ``max_ext`` hold one value per axis (the bucket's
MBR and max entry extents).  A manifest written before the layout was
dimension-generic has the 2-D scalar columns ``xmin, ymin, xmax, ymax,
max_ex, max_ey`` instead; :meth:`StoredLayout.manifest_rows` reads such
rows as per-axis lists, file by file, so a manifest mixing both forms
after an append reads as one.

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

Every write is committed on the driver too, like ``storeHeader``
(``RTree.cc:1445``) writes its page in-process: once the data files are
written, :meth:`StoredLayout.footer_manifest` takes each touched bucket's
rows from those files' parquet footers — ``n_rows`` from ``num_rows``,
z and box bounds from the row-group min/max statistics, ``n_bytes`` as the
files' on-disk size — reading only each file's tail (:func:`footer`), and
:func:`write_table` writes the manifest with pyarrow.  No Spark job runs
after the data write, and no data page is read.

A footer holds no per-row extent, so the max entry extents (``max_ext``)
are **upper bounds**, not exact maxima: a build or insert records its
batch-wide max (an ``Observation`` that rides on the data write,
:func:`observe_extent`) on each of the batch's bucket rows, and a delete
or compaction, which only removes or keeps rows,
carries each touched bucket's prior max forward.  Query planning uses only
the max over all rows, so pruning is exact on a fresh build and after
inserts, and conservative (never wrong) after deletes.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from libspatialindex_spark.plans import fs as FS

# Explicit schema — the driver writes the manifest with these types
# (:func:`arrow_schema`) and :meth:`StoredLayout.manifest` frames its rows
# with it.
MANIFEST_SCHEMA = (
    "bucket long, zmin long, zmax long, n_rows long, n_bytes long, "
    "lows array<double>, highs array<double>, max_ext array<double>, "
    "build_id string"
)

FILEMAP_SCHEMA = "path string, bucket long, zmin long, zmax long, n_rows long"

_ARROW_TYPES = {
    "long": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "array<double>": pa.list_(pa.float64()),
}


def arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema of a flat Spark DDL string like
    :data:`MANIFEST_SCHEMA`."""
    fields = (f.strip().split(" ", 1) for f in ddl.split(","))
    return pa.schema([pa.field(n, _ARROW_TYPES[t]) for n, t in fields])


def observe_extent(df: DataFrame, axes):
    """``df`` with an ``Observation`` of ``max(hi - lo)`` per ``(lo, hi)``
    axis that rides on its next action (no job of its own), and a getter
    for the observed maxima (``None`` for an empty frame)."""
    obs = Observation()
    df = df.observe(obs, *[
        F.max(F.col(hi) - F.col(lo)).alias(f"ext{i}")
        for i, (lo, hi) in enumerate(axes)
    ])
    return df, lambda: [obs.get[f"ext{i}"] for i in range(len(axes))]


def manifest_path(index_path: str) -> str:
    return FS.join(index_path, "manifest")


def _is_data(name: str) -> bool:
    # Spark's hidden-file rule: names starting with ``_`` or ``.`` are not
    # data
    return name.endswith(".parquet") and not name.startswith(("_", "."))


def parquet_files(fs, path: str) -> list[str]:
    """Data files of the parquet table at ``path``."""
    return sorted(filter(_is_data, fs.listdir(path)))


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


def write_table(fs, path: str, rows: list[dict], ddl: str) -> None:
    """Write ``rows`` as one parquet file at ``path``, with pyarrow on the
    driver: a Spark write of a table this small costs about a second of
    job and task overhead.  The file appears atomically
    (``fs.write_bytes``)."""
    sink = pa.BufferOutputStream()
    # read whole by every reader: no column statistics, no arrow schema
    pq.write_table(
        pa.Table.from_pylist(rows, schema=arrow_schema(ddl)), sink,
        write_statistics=False, store_schema=False,
    )
    fs.write_bytes(path, sink.getvalue().to_pybytes())


def part_name() -> str:
    return f"part-{uuid.uuid4()}.parquet"


def footer(fs, path: str) -> pq.FileMetaData:
    """The parquet footer of the file at ``path``, from two tail reads:
    the last 8 bytes (footer length + ``PAR1``), then the footer.  Behind
    a ``PAR1`` prefix those bytes parse as a complete, data-less file."""
    n = int.from_bytes(fs.read_tail(path, 8)[:4], "little")
    return pq.read_metadata(pa.BufferReader(b"PAR1" + fs.read_tail(path, n + 8)))


def _zero(v):
    # a -0.0 bound reads as 0.0 (the parquet spec also lets a writer
    # store a 0.0 min as -0.0)
    return v + 0.0 if isinstance(v, float) else v


def file_zone(fs, path: str, cols) -> dict:
    """``n_rows`` and the min/max of ``cols`` of one parquet file, from its
    row-group statistics.  An all-null chunk has no min/max and adds
    nothing, as SQL ``min``/``max`` ignore nulls.  Spark writes min/max for
    every other numeric chunk; a file without them cannot be committed
    from its footer, so it raises rather than under-state the bounds."""
    md = footer(fs, path)
    lo: dict = {}
    hi: dict = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            name = c.path_in_schema
            if name not in cols:
                continue
            st = c.statistics
            if st is not None and st.has_min_max:
                a, b = _zero(st.min), _zero(st.max)
                lo[name] = min(lo.get(name, a), a)
                hi[name] = max(hi.get(name, b), b)
            elif st is None or st.null_count != rg.num_rows:
                raise ValueError(f"{path}: no min/max statistics for {name}")
    return {"n_rows": md.num_rows, "min": lo, "max": hi}


def file_zones(fs, root: str, buckets, cols) -> list[dict]:
    """One zone (:func:`file_zone`) per data file of the ``bucket=N``
    dirs of ``buckets`` under ``root``, plus its ``path``, ``bucket`` and
    on-disk ``n_bytes``."""
    out = []
    for b in buckets:
        d = FS.join(root, f"bucket={b}")
        for name, size in sorted(fs.sizes(d).items()):
            if _is_data(name):
                path = FS.join(d, name)
                z = file_zone(fs, path, cols)
                out.append({**z, "path": path, "bucket": b, "n_bytes": size})
    return out


def bucket_zones(zones: list[dict]) -> dict[int, dict]:
    """File zones merged per bucket: rows and bytes summed, bounds
    widened."""
    out: dict[int, dict] = {}
    for z in zones:
        e = out.setdefault(
            z["bucket"], {"n_rows": 0, "n_bytes": 0, "min": {}, "max": {}}
        )
        e["n_rows"] += z["n_rows"]
        e["n_bytes"] += z["n_bytes"]
        for k, f in (("min", min), ("max", max)):
            for c, v in z[k].items():
                e[k][c] = f(e[k].get(c, v), v)
    return out


def committed_buckets(spark: SparkSession, index_path: str) -> set[int]:
    rows = read_rows(FS.get_fs(spark, index_path), manifest_path(index_path))
    return {r["bucket"] for r in rows or []}


def _per_axis(row: dict) -> dict:
    """A manifest row in the per-axis form; a 2-D scalar row (the form
    written before the layout was dimension-generic) is mapped."""
    if "lows" in row:
        return row
    return {
        "bucket": row["bucket"], "zmin": row["zmin"], "zmax": row["zmax"],
        "n_rows": row["n_rows"], "n_bytes": row.get("n_bytes"),
        "lows": [row["xmin"], row["ymin"]],
        "highs": [row["xmax"], row["ymax"]],
        "max_ext": [row["max_ex"], row["max_ey"]],
        "build_id": row["build_id"],
    }


class StoredLayout:
    """Driver-side view of a stored index's directory layout (the index
    handle supplies ``spark``, ``path`` and ``box``, its per-axis box
    columns).

    Opening the index for a query runs no Spark job: the manifest and
    the file map are read on the driver (:func:`read_rows`) and the data
    root is scanned with a schema inferred once per handle.  Committing a
    write runs none either (:meth:`footer_manifest`,
    :meth:`append_manifest`)."""

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
            paths = [
                FS.join(self.data_path, f"bucket={b}")
                for b in self.live_buckets()[:1]
            ]
            self._data_schema = (
                self.spark.read.option("basePath", self.data_path)
                .parquet(*(paths or [self.data_path]))
                .schema
            )
        return self._data_schema

    def live_buckets(self) -> list[int]:
        """Buckets with a live ``bucket=N`` data dir (not an ``.old``
        aside)."""
        return sorted(
            int(n[len("bucket="):]) for n in self.fs.listdir(self.data_path)
            if n.startswith("bucket=") and not n.endswith(".old")
        )

    def footer_manifest(
        self, root: str, buckets, ext: dict, build_id: str
    ) -> list[dict]:
        """One manifest row per bucket of ``buckets`` that has data files
        under ``root``, from those files' footers: no Spark job, no data
        page read.  ``ext[b]`` is bucket ``b``'s per-axis max extent (an
        upper bound, see the module docstring)."""
        dims = self.box.dims
        cols = {"z", *(c for pair in dims for c in pair)}
        zones = bucket_zones(file_zones(self.fs, root, buckets, cols))
        return [
            {
                "bucket": b,
                "zmin": z["min"].get("z"),
                "zmax": z["max"].get("z"),
                "n_rows": z["n_rows"],
                "n_bytes": z["n_bytes"],
                "lows": [z["min"].get(lo) for lo, _ in dims],
                "highs": [z["max"].get(hi) for _, hi in dims],
                "max_ext": ext[b],
                "build_id": build_id,
            }
            for b, z in sorted(zones.items())
        ]

    def append_manifest(self, rows: list[dict]) -> None:
        """Commit ``rows`` as one new manifest file; its rename into place
        is the commit point."""
        write_table(
            self.fs, FS.join(self.manifest_path, part_name()), rows,
            MANIFEST_SCHEMA,
        )

    def data(self) -> DataFrame:
        return self.spark.read.schema(self.data_schema()).parquet(self.data_path)

    def manifest_rows(self) -> list[dict]:
        """The manifest's rows in the per-axis form, read on the driver —
        the one manifest reader."""
        rows = read_rows(self.fs, self.manifest_path)
        if rows is None:
            raise FileNotFoundError(f"no manifest under {self.path}")
        return [_per_axis(r) for r in rows]

    def manifest(self) -> DataFrame:
        """The manifest as a DataFrame, framed from the driver's rows."""
        return self.spark.createDataFrame(self.manifest_rows(), MANIFEST_SCHEMA)

    def file_map(self) -> DataFrame | None:
        """Per-FILE zone map (path, bucket, zmin, zmax, n_rows) — the
        third index level (sub-bucket), written by builds with
        ``max_records_per_file`` and invalidated by mutations (rebuild via
        ``index_build.refresh_file_map``).  The Morton key is a scalar
        long at any dimension, so the map is dimension-blind."""
        if not parquet_files(self.fs, self.filemap_path):
            return None
        return self.spark.read.schema(FILEMAP_SCHEMA).parquet(self.filemap_path)
