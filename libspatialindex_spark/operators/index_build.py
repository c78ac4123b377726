"""Distributed index build — the bulk-load family (SURVEY.md §2.3).

Reference: ``src/rtree/BulkLoader.cc`` sorts all entries (external merge
sort with spill, ``:119-326``), packs leaves, and builds upper levels until
a single root (``:328-387``).  Spark-first mapping:

====================  =====================================================
reference             here
====================  =====================================================
external merge sort   ``repartitionByRange(z)`` shuffle (spill built-in)
leaf packing          ``sortWithinPartitions(z)`` + parquet row groups
upper tree levels     **bucket** directories + per-bucket manifest MBRs
root / header page    ``boundaries.json`` + manifest table, read on the
                      driver (pyarrow) — planning a query runs no job
====================  =====================================================

Three global partitioners, mirroring the reference's bulk-load variants:

* ``zprefix`` (default) — B1/B2 STR/SFC analog: ``bucket = z >> shift``,
  quadtree-aligned, deterministic without sampling; composes with the
  Z-cover for key-range pruning.
* ``cutlist`` — B3 TGS/PLATON analog (``BulkLoader.cc:569-…``, cut list
  read at ``:576-582``): explicit Z split points supplied by the caller
  (e.g. a learned partitioner), ``bucket = #cuts ≤ z``.
* ``kd`` — B4 KD-tree bulk load analog (``src/kdtree/BulkLoader.cc:327-377``
  topDownPartitioning): recursive median splits on a driver-side sample,
  cycling the split dimension per level; leaves become buckets.

``quantile`` is ``cutlist`` with LISA equal-frequency cuts on a sample of
the key; ``kd`` and ``quantile`` draw the same seeded sample.

The layout is the same at every dimension, as the reference has one tree
class for every dimension (``RTree.cc:306-308``): the key is the d-way
Morton interleave of box centers (``curves.z_key_nd``), and
``boundaries.json`` records the per-axis world (``axes``), the per-axis
box columns (``dims``), ``grid_bits``, ``target_partitions`` and the
partition spec.  The 2-D index is this layout at d=2.

Query-time pruning is partitioner-agnostic (``SpatialRelation.box_plan``): the
manifest stores each bucket's exact per-axis data MBR, so the driver
intersects the query window with bucket MBRs (the "root node" visit) and
compiles a ``bucket IN`` partition filter; a ``z BETWEEN`` cover
disjunction additionally prunes parquet row groups inside each bucket.

Builds are **resumable at bucket granularity**: a bucket is committed iff
its manifest row exists; a re-run plans only missing buckets and sweeps
crash debris.  At 100 TB: buckets ≈ 4× executor count; hot buckets just
hold more files and Spark splits them on read, so skew degrades smoothly.
"""

from __future__ import annotations

import dataclasses
import json
import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.operators.nd import NDBox, NDConfig
from libspatialindex_spark.operators.relation import SpatialRelation
from libspatialindex_spark.plans import fs as FS
from libspatialindex_spark.plans import manifest as M

# The one driver-side sample behind the ``quantile`` and ``kd``
# partitioners: a seeded Bernoulli sample of this fraction, capped in rows.
SAMPLE_FRACTION = 0.2
MAX_SAMPLE_ROWS = 200_000


def _bucket_shift(conf) -> int:
    """Z right-shift so that #buckets = (2^d)^L ≥ 4 × target_partitions."""
    d = len(conf.axes)
    level = max(1, math.ceil(math.log(4 * conf.target_partitions, 2**d)))
    level = min(level, conf.grid_bits)
    return d * (conf.grid_bits - level)


# --------------------------------------------------------------- partition --


@dataclass
class PartitionSpec:
    """Serializable global-partitioner description (the 'root page') at
    any dimension, closing the fork's 3-D bulk-load targets
    (``test/CMakeLists.txt``: ``SFCRTreeBulkLoad3d`` = zprefix,
    ``LISABulkLoad3d`` = quantile, ``PlatonBulkLoad3d`` = cutlist,
    ``KDTreeLoad3d`` = kd)."""

    kind: str = "zprefix"  # zprefix | cutlist | kd  (quantile → cutlist)
    shift: int = 0
    cuts: list[int] | None = None
    kd_tree: list | None = None  # nested [dim, cut, left, right] | leaf int

    def bucket_expr(self, centers: list, z: Column) -> Column:
        if self.kind == "zprefix":
            return F.shiftright(z, self.shift)
        if self.kind == "cutlist":
            inds = [(z > F.lit(int(c))).cast("long") for c in self.cuts]
            return sum(inds, F.lit(0).cast("long"))
        if self.kind == "kd":
            def walk(node):
                if isinstance(node, int):
                    return F.lit(node).cast("long")
                dim, cut, left, right = node
                return F.when(
                    centers[dim] <= F.lit(float(cut)), walk(left)
                ).otherwise(walk(right))
            return walk(self.kd_tree)
        raise ValueError(self.kind)

    def to_json(self) -> dict:
        return {
            "pkind": self.kind, "shift": self.shift, "cuts": self.cuts,
            "kd_tree": self.kd_tree,
        }

    @staticmethod
    def from_json(d: dict) -> "PartitionSpec":
        return PartitionSpec(
            kind=d.get("pkind", "zprefix"), shift=int(d.get("shift") or 0),
            cuts=d.get("cuts"), kd_tree=d.get("kd_tree"),
        )


def kd_partition_tree(
    sample: np.ndarray,
    levels: int,
    workload=None,
) -> list:
    """Top-down median partitioning of an (n, d) sample of box centers,
    cycling the split dimension through all d axes
    (``kdtree/BulkLoader.cc:327-377``; dim cycling at ``:425``).

    With ``workload`` (query boxes as ``[lows…, highs…]`` rows) this
    becomes the B5 greedy variant (``kdtree/BulkLoader.cc:579-…``, cost at
    ``:563-577``): among candidate cuts, pick the one MAXIMIZING the number
    of workload queries that can skip a side entirely (the reference's
    ``calculateSkip``), tie-broken toward the median.
    """
    d = sample.shape[1]
    if workload is not None:
        workload = np.asarray(workload, dtype=float)
    counter = [0]

    def best_cut(pts: np.ndarray, dim: int) -> float:
        med = float(np.median(pts[:, dim]))
        if workload is None or len(workload) == 0:
            return med
        qlo, qhi = workload[:, dim], workload[:, dim + d]
        cands = np.quantile(pts[:, dim], np.linspace(0.2, 0.8, 7))
        best, best_skip = med, -1.0
        for c in cands:
            # queries entirely on one side of the cut skip the other side
            skip = float(np.sum(qhi < c) + np.sum(qlo > c))
            # prefer balanced cuts among equal skip counts
            balance = -abs(float(np.mean(pts[:, dim] <= c)) - 0.5)
            score = skip + balance
            if score > best_skip:
                best_skip, best = score, float(c)
        return best

    def build(pts: np.ndarray, depth: int):
        if depth >= levels or len(pts) < 4:
            leaf = counter[0]
            counter[0] += 1
            return leaf
        dim = depth % d
        cut = best_cut(pts, dim)
        left = pts[pts[:, dim] <= cut]
        right = pts[pts[:, dim] > cut]
        if len(left) == 0 or len(right) == 0:
            leaf = counter[0]
            counter[0] += 1
            return leaf
        return [dim, cut, build(left, depth + 1), build(right, depth + 1)]

    return build(sample, 0)


def _sample(df: DataFrame, cols: list) -> np.ndarray:
    """The seeded driver-side sample of ``cols`` (one column per axis)."""
    return (
        df.select(*cols).sample(fraction=SAMPLE_FRACTION, seed=42)
        .limit(MAX_SAMPLE_ROWS).toPandas().to_numpy()
    )


def _partition_spec(
    df, conf, box: NDBox, partitioner: str, cuts, kd_levels, workload_boxes
) -> PartitionSpec:
    shift = _bucket_shift(conf)
    if partitioner == "zprefix":
        return PartitionSpec("zprefix", shift=shift)
    if partitioner == "cutlist":
        if not cuts:
            raise ValueError("cutlist partitioner needs explicit cuts")
        return PartitionSpec("cutlist", shift=shift, cuts=[int(c) for c in cuts])
    if partitioner == "quantile":
        # LISA equal-frequency cuts (``learnedindex/BulkLoader.cc:488-590``)
        # on the mapped 1-D key — the key IS LISA's multi-dim → 1-D
        # mapping: sample z, cut at distinct-value quantile borders (the
        # np.unique is the reference's duplicate-value advance,
        # ``:550-552``) — delegates to the cutlist machinery.
        z = curves.z_key_nd(box.centers(), list(conf.axes), conf.grid_bits)
        zs = _sample(df, [z])[:, 0]
        qs = np.quantile(
            zs, np.linspace(0, 1, 4 * conf.target_partitions + 1)[1:-1]
        )
        return PartitionSpec(
            "cutlist", shift=shift,
            cuts=[int(c) for c in np.unique(qs.astype(np.int64))],
        )
    if partitioner == "kd":
        levels = kd_levels or max(
            2, math.ceil(math.log2(conf.target_partitions))
        )
        tree = kd_partition_tree(
            _sample(df, box.centers()), levels,
            workload=workload_boxes,
        )
        return PartitionSpec("kd", shift=shift, kd_tree=tree)
    raise ValueError(partitioner)


# ------------------------------------------------------------------- index --


@dataclass
class StoredIndex(M.StoredLayout):
    """A persisted two-level spatial index (bucket data dirs + manifest)
    at any dimension.

    ``conf`` carries the layout (``axes``, ``grid_bits``,
    ``target_partitions``): an
    :class:`~libspatialindex_spark.config.EngineConfig` (whose ``world``
    is the two axes) or an
    :class:`~libspatialindex_spark.operators.nd.NDConfig`.  ``box`` names
    the per-axis box columns."""

    spark: SparkSession
    path: str
    conf: EngineConfig | NDConfig
    box: NDBox
    spec: PartitionSpec
    # (z, bucket) Column expressions per box, see :meth:`keyed`
    _keys: dict = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def zm_models(self) -> dict[int, tuple[float, float, int]]:
        """Per-bucket learned rank model {bucket: (a, b, max_err)} — the
        ZM per-node regression analog (``LearnedIndex.cc:1494-1507``):
        ``rank(z) ≈ a·z + b`` with a certified absolute error bound, fit
        at build time from the file boundaries (an exact piecewise CDF).
        Empty when no file map exists."""
        p = FS.join(self.path, "zm_models.json")
        fs = self.fs
        if not fs.exists(p):
            return {}
        d = json.loads(fs.read_text(p))
        return {
            int(k): (float(v[0]), float(v[1]), int(v[2]))
            for k, v in d.items()
        }

    def estimate_rows(self, bucket: int, zlo: int, zhi: int) -> tuple[int, int]:
        """Certified [min, max] row-count estimate for a z range inside a
        bucket, from the learned model — a driver-side selectivity oracle
        with NO data access (the reference uses the same model to bound
        its in-node binary-search window)."""
        m = self.zm_models().get(bucket)
        if m is None:
            raise KeyError(f"no learned model for bucket {bucket}")
        a, b, err = m
        lo = a * zlo + b
        hi = a * zhi + b
        return (
            max(0, int(math.floor(hi - err) - math.ceil(lo + err))),
            max(0, int(math.ceil(hi + err) - math.floor(lo - err))),
        )

    def keyed(self, df: DataFrame, box=None) -> DataFrame:
        """Attach z + bucket columns per this index's partitioner — the
        build's and every mutation's router.  ``box`` defaults to the
        index's.  The Column expressions are built
        once per handle and box: building the Morton expression through
        py4j costs about as much driver time as analysing it."""
        box = box or self.box
        cols = self._keys.get(box)
        if cols is None:
            centers = box.centers()
            z = curves.z_key_nd(centers, list(self.conf.axes), self.conf.grid_bits)
            cols = self._keys[box] = (
                z, self.spec.bucket_expr(centers, F.col("z"))
            )
        z, bucket = cols
        return df.withColumn("z", z).withColumn("bucket", bucket)

    def manifest_totals_rows(self) -> list[dict]:
        """Per-bucket roll-up of the manifest on the driver (a bucket has
        one row per build or insert batch): z bounds, per-axis MBR
        (``lows``/``highs``), per-axis max entry extents (``max_ext``) and
        ``n_rows``."""
        return M.rollup(
            self.manifest_rows(),
            mins=("zmin", "lows"),
            maxs=("zmax", "highs", "max_ext"),
        )

    def manifest_totals(self) -> DataFrame:
        """:meth:`manifest_totals_rows` as a DataFrame."""
        return self.spark.createDataFrame(
            self.manifest_totals_rows(),
            "bucket long, zmin long, zmax long, n_rows long, "
            "lows array<double>, highs array<double>, max_ext array<double>",
        )

    def bounds(self) -> tuple:
        """Root MBR — per-axis lows, then highs — rolled up on the driver
        from the manifest's exact per-bucket MBRs; the reference reads its
        root node's MBR the same way (``RTreeQuery.cc:166-184``), with no
        data scan.  All ``None`` for an empty index."""
        rows = self.manifest_totals_rows()
        d = self.box.d
        if not rows:
            return (None,) * (2 * d)
        return tuple(min(r["lows"][a] for r in rows) for a in range(d)) + tuple(
            max(r["highs"][a] for r in rows) for a in range(d)
        )

    def relation(self, box=None) -> SpatialRelation:
        """Queryable relation with driver-side manifest-MBR pruning plus
        pushed z-range row-group pruning (``SpatialRelation.box_plan``).
        Opening it runs no Spark job: manifest and file map are read on
        the driver and every scan (the whole root or a file subset) is
        planned with the memoized data schema.  ``box`` defaults to the
        index's."""
        rows = self.manifest_totals_rows()
        fm = M.read_rows(self.fs, self.filemap_path) or []
        ext = [max(e) for e in zip(*(r["max_ext"] for r in rows))]
        return SpatialRelation(
            df=self.data(),
            conf=self.conf,
            box=box or self.box,
            z_col="z",
            max_extent=tuple(ext or [0.0] * self.box.d),
            bucket_boxes=[(r["bucket"], r["lows"], r["highs"]) for r in rows],
            file_boxes=[
                (r["path"], r["bucket"], r["zmin"], r["zmax"], r["n_rows"])
                for r in fm
            ],
            data_path=self.data_path,
        )

    def validate(self) -> bool:
        """``isIndexValid()`` analog (``SpatialIndex.h:209``): recompute
        per-bucket z bounds, row count and per-axis MBR from the data (one
        Spark job) and diff them against the manifest roll-up."""
        dims = self.box.dims
        agg = self.data().groupBy(F.col("bucket").cast("long")).agg(
            F.min("z"), F.max("z"), F.count(F.lit(1)),
            F.array(*[F.min(lo) for lo, _ in dims]),
            F.array(*[F.max(hi) for _, hi in dims]),
        )
        got = {
            (b, z0, z1, n, tuple(lo), tuple(hi))
            for b, z0, z1, n, lo, hi in agg.collect()
        }
        want = {
            (r["bucket"], r["zmin"], r["zmax"], r["n_rows"],
             tuple(r["lows"]), tuple(r["highs"]))
            for r in self.manifest_totals_rows()
        }
        return got == want


def build_index(
    df: DataFrame,
    path: str,
    conf: EngineConfig | NDConfig,
    box=None,
    build_id: str = "build-1",
    resume: bool = False,
    partitioner: str = "zprefix",
    cuts: list[int] | None = None,
    kd_levels: int | None = None,
    workload_boxes=None,
    max_records_per_file: int | None = None,
) -> StoredIndex:
    """Bulk-load ``df`` into a stored index at ``path``: d-way Morton key on
    box centers → range shuffle → partitioned, z-sorted buckets → manifest
    rows from the written files' footers.  ``conf`` gives the layout (see
    :class:`StoredIndex`); ``box`` the per-axis box columns, default
    ``xmin..ymax``.

    ``partitioner``: ``zprefix`` (default), ``cutlist`` (with ``cuts``),
    ``quantile``, or ``kd`` (``kd_levels`` deep, cuts steered by
    ``workload_boxes`` when given).

    ``resume=True`` reuses the persisted PartitionSpec, skips committed
    buckets, and sweeps stale uncommitted bucket dirs (crash cleanup).
    ``max_records_per_file`` splits bucket data into z-disjoint files and
    records a per-file zone map + learned rank models (B6 refinement —
    see :func:`refresh_file_map`)."""
    spark = df.sparkSession
    box = box or NDBox()
    if box.d != len(conf.axes):
        raise ValueError(f"box dims {box.d} != conf dims {len(conf.axes)}")
    data_path = FS.join(path, "data")
    fs = FS.get_fs(spark, path)

    layout = _load_layout(fs, path) if resume else None
    spec = PartitionSpec.from_json(layout) if layout else _partition_spec(
        df, conf, box, partitioner, cuts, kd_levels, workload_boxes
    )
    idx = StoredIndex(spark=spark, path=path, conf=conf, box=box, spec=spec)
    keyed = idx.keyed(df)

    done: set[int] = set()
    if resume:
        done = M.committed_buckets(spark, path)
        _sweep_uncommitted(fs, data_path, done)
        if done:
            keyed = keyed.filter(~F.col("bucket").isin([*done]))
    elif fs.isdir(path):
        fs.delete(path)
    fs.mkdirs(path)
    _save_layout(fs, idx)

    # The "external sort": one range shuffle on z, then in-partition sort —
    # rows land clustered so parquet row-group zone maps on z are tight.
    # The max entry extents ride on the write as an Observation.
    keyed, extent = M.observe_extent(keyed, box.dims)
    writer = (
        keyed.repartitionByRange(conf.target_partitions, "z")
        # sort by (bucket, z), not z alone: the dynamic-partition writer
        # requires ordering by the partition column and V1Writes inserts a
        # Sort(bucket) when the child doesn't already provide it — after
        # which EliminateSorts DROPS our z sort as redundant, silently
        # breaking the z-disjoint-files premise of the file map.  A
        # (bucket, z) sort satisfies the writer's requirement, so no sort
        # is inserted and in-file z order survives (for zprefix, bucket is
        # a z prefix, so this is the same order).
        .sortWithinPartitions("bucket", "z")
        .write.partitionBy("bucket")
        .mode("append")
    )
    if max_records_per_file:
        # consecutive-row splits of a z-sorted task output → z-disjoint files
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(data_path)

    # Commit point: manifest rows are derived from the *written* files'
    # footers, so a manifest row certifies durable data (write data → then
    # commit).  Only the newly-written buckets — on resume the committed
    # ones may dwarf them.
    new = [b for b in idx.live_buckets() if b not in done]
    if not new:
        return idx
    idx.data_schema()  # inferred here once; queries reuse it
    idx.append_manifest(
        idx.footer_manifest(data_path, new, dict.fromkeys(new, extent()), build_id)
    )
    if max_records_per_file:
        refresh_file_map(idx)
    return idx


def refresh_file_map(idx) -> None:
    """(Re)build the per-file zone map and the per-bucket learned rank
    models (B6 completion — ``LearnedIndex.cc:1494-1507`` /
    ``BulkLoader.cc:429-445`` analog).  The z key is a scalar long
    whatever the dimension, so the map and the models are
    dimension-blind.

    File zone map: one row per data file, (path, bucket, zmin, zmax,
    n_rows), read from each file's parquet footer on the driver (no Spark
    job) and written with pyarrow; ``path`` is the URI Spark names the
    file by.  Files within a bucket are z-disjoint (the build sorts by z
    before ``maxRecordsPerFile`` splits), so the map is a third pruning
    level below buckets.

    Learned models: per bucket, least-squares fit ``rank(z) ≈ a·z + b``
    over the exact CDF points at file boundaries, with a certified
    absolute error bound = max boundary residual + max file rows (rank and
    prediction are both monotone between boundaries, so the bound holds
    everywhere in the bucket).  The models answer selectivity questions
    driver-side with zero IO (:meth:`StoredIndex.estimate_rows`)."""
    fs = idx.fs
    rows = [
        {
            "path": fs.uri(z["path"]), "bucket": z["bucket"],
            "zmin": z["min"]["z"], "zmax": z["max"]["z"], "n_rows": z["n_rows"],
        }
        for z in idx.file_zones(idx.data_path, idx.live_buckets(), {"z"})
        if z["n_rows"]
    ]
    tmp = idx.filemap_path + ".new"
    fs.delete(tmp)
    M.write_table(fs, FS.join(tmp, M.part_name()), rows, M.FILEMAP_SCHEMA)
    fs.delete(idx.filemap_path)
    fs.rename(tmp, idx.filemap_path)

    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(
            (r["zmin"], r["zmax"], r["n_rows"])
        )
    models: dict[int, tuple[float, float, int]] = {}
    for b, files in by_bucket.items():
        files.sort()
        zs, ranks, cum = [], [], 0
        for z0, z1, n in files:
            zs += [z0, z1]
            ranks += [cum, cum + n]
            cum += n
        zs_a = np.asarray(zs, dtype=np.float64)
        rk_a = np.asarray(ranks, dtype=np.float64)
        if len(files) == 1 and zs_a[0] == zs_a[1]:
            a, c = 0.0, float(rk_a.mean())
        else:
            a, c = np.polyfit(zs_a, rk_a, 1)
        resid = float(np.max(np.abs(a * zs_a + c - rk_a)))
        err = int(math.ceil(resid)) + max(n for _, _, n in files)
        models[b] = (float(a), float(c), err)
    fs.write_text(
        FS.join(idx.path, "zm_models.json"),
        json.dumps({str(k): list(v) for k, v in models.items()}),
    )


def load_index(
    spark: SparkSession, path: str, conf: EngineConfig | NDConfig | None = None
) -> StoredIndex:
    """Open a stored index.  The layout (axes, grid_bits,
    target_partitions, box columns, partitioner) is restored from
    ``boundaries.json`` — the analog of the reference's header page
    (``RTree.cc:1505-1551 loadHeader``): the stored z column was computed
    under the build-time grid, so trusting a caller-supplied conf would
    silently mis-prune.  ``conf`` supplies the rest: under an
    ``NDConfig``, or for any index of d ≠ 2, the layout is an
    ``NDConfig``; otherwise it is ``conf`` (default ``EngineConfig()``)
    with its world and grid replaced.  Raises when the spec file is absent
    (corrupt / not an index)."""
    fs = FS.get_fs(spark, path)
    d = _load_layout(fs, path)
    if d is None:
        raise FileNotFoundError(
            f"no boundaries.json under {path} — not a stored index "
            "(refusing to guess a partition spec: pruning under a wrong "
            "grid silently drops rows)"
        )
    base = conf or EngineConfig()
    axes = tuple(tuple(a) for a in d.get("axes", base.axes))
    grid_bits = int(d.get("grid_bits", base.grid_bits))
    tp = int(d.get("target_partitions", base.target_partitions))
    if isinstance(base, NDConfig) or len(axes) != 2:
        layout = NDConfig(axes=axes, grid_bits=grid_bits, target_partitions=tp)
    else:
        (x0, x1), (y0, y1) = axes
        layout = dataclasses.replace(
            base, world=(x0, y0, x1, y1), grid_bits=grid_bits,
            target_partitions=tp,
        )
    return StoredIndex(
        spark=spark, path=path, conf=layout,
        box=NDBox(tuple(tuple(p) for p in d["dims"])),
        spec=PartitionSpec.from_json(d),
    )


def _save_layout(fs, idx: StoredIndex) -> None:
    # The layout next to the partitioner (storeHeader analog,
    # RTree.cc:1445): a loader must use the build-time grid.
    fs.write_text(
        FS.join(idx.path, "boundaries.json"),
        json.dumps({
            "axes": [list(a) for a in idx.conf.axes],
            "dims": [list(p) for p in idx.box.dims],
            "grid_bits": idx.conf.grid_bits,
            "target_partitions": idx.conf.target_partitions,
            **idx.spec.to_json(),
        }),
    )


def _load_layout(fs, path: str) -> dict | None:
    """``boundaries.json`` in the form :func:`_save_layout` writes, or
    ``None`` when there is none.  The 2-D form written before the layout
    was dimension-generic (partitioner ``kind`` plus the build ``conf``,
    box columns ``xmin..ymax``) is mapped to it; without a ``conf`` the
    loader's config supplies the grid."""
    p = FS.join(path, "boundaries.json")
    if not fs.exists(p):
        return None
    d = json.loads(fs.read_text(p))
    if "axes" in d:
        return d
    if "kind" not in d:
        return None  # not a layout this engine wrote
    out = {
        "dims": [["xmin", "xmax"], ["ymin", "ymax"]],
        "pkind": d["kind"], "shift": d.get("shift"), "cuts": d.get("cuts"),
        "kd_tree": d.get("kd_tree"),
    }
    c = d.get("conf")
    if c:
        w = c["world"]
        out.update(
            axes=[[w[0], w[2]], [w[1], w[3]]], grid_bits=c["grid_bits"],
            target_partitions=c["target_partitions"],
        )
    return out


def _sweep_uncommitted(fs, data_path: str, committed: set[int]) -> None:
    """Remove bucket dirs written by a crashed attempt (no manifest row)."""
    if not fs.isdir(data_path):
        return
    for name in fs.listdir(data_path):
        if not name.startswith("bucket="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if b not in committed:
            fs.delete(FS.join(data_path, name))
