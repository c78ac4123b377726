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

Query-time pruning is partitioner-agnostic: the manifest stores each
bucket's exact data MBR, so the driver intersects the query window with
bucket MBRs (the "root node" visit) and compiles a ``bucket IN`` partition
filter; for ``zprefix`` a ``z BETWEEN`` cover disjunction additionally
prunes parquet row groups inside each bucket.

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
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.operators.relation import BoxCols, SpatialRelation
from libspatialindex_spark.plans import fs as FS
from libspatialindex_spark.plans import manifest as M


def _bucket_shift(conf: EngineConfig) -> int:
    """Z right-shift so that #buckets = 4^L ≥ 4 × target_partitions."""
    level = max(1, math.ceil(math.log(4 * conf.target_partitions, 4)))
    level = min(level, conf.grid_bits)
    return 2 * (conf.grid_bits - level)


# --------------------------------------------------------------- partition --


@dataclass
class PartitionSpec:
    """Serializable global-partitioner description (the 'root page')."""

    kind: str  # zprefix | cutlist | kd
    shift: int | None = None
    cuts: list[int] | None = None
    kd_tree: list | None = None  # nested [dim, cut, left, right] | leaf int

    def bucket_expr(self, cx: Column, cy: Column, z: Column) -> Column:
        if self.kind == "zprefix":
            return F.shiftright(z, self.shift)
        if self.kind == "cutlist":
            inds = [ (z > F.lit(int(c))).cast("long") for c in self.cuts ]
            return reduce(lambda a, b: a + b, inds, F.lit(0).cast("long"))
        if self.kind == "kd":
            def walk(node):
                if isinstance(node, int):
                    return F.lit(node).cast("long")
                dim, cut, left, right = node
                c = cx if dim == 0 else cy
                return F.when(c <= F.lit(float(cut)), walk(left)).otherwise(
                    walk(right)
                )
            return walk(_tuplify(self.kd_tree))
        raise ValueError(self.kind)

    def to_json(self) -> dict:
        return {
            "kind": self.kind, "shift": self.shift, "cuts": self.cuts,
            "kd_tree": self.kd_tree,
        }

    @staticmethod
    def from_json(d: dict) -> "PartitionSpec":
        return PartitionSpec(
            kind=d["kind"], shift=d.get("shift"), cuts=d.get("cuts"),
            kd_tree=d.get("kd_tree"),
        )


def _tuplify(node):
    if isinstance(node, list):
        return (node[0], node[1], _tuplify(node[2]), _tuplify(node[3]))
    return node


def kd_partition_tree(
    sample_xy: np.ndarray,
    levels: int,
    workload: np.ndarray | None = None,
) -> list:
    """Top-down median partitioning on a sample, cycling split dims
    (``kdtree/BulkLoader.cc:327-377``; dim cycling at ``:425``).

    With ``workload`` (array of query boxes ``[xmin, ymin, xmax, ymax]``)
    this becomes the B5 greedy variant (``kdtree/BulkLoader.cc:579-…``,
    cost at ``:563-577``): among candidate cuts, pick the one MAXIMIZING
    the number of workload queries that can skip a side entirely (the
    reference's ``calculateSkip``), tie-broken toward the median.
    """
    counter = [0]

    def best_cut(pts: np.ndarray, dim: int) -> float:
        med = float(np.median(pts[:, dim]))
        if workload is None or len(workload) == 0:
            return med
        qlo, qhi = workload[:, dim], workload[:, dim + 2]
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
        dim = depth % 2
        cut = best_cut(pts, dim)
        left = pts[pts[:, dim] <= cut]
        right = pts[pts[:, dim] > cut]
        if len(left) == 0 or len(right) == 0:
            leaf = counter[0]
            counter[0] += 1
            return leaf
        return [dim, cut, build(left, depth + 1), build(right, depth + 1)]

    return build(sample_xy, 0)


# ------------------------------------------------------------------- index --


@dataclass
class StoredIndex(M.StoredLayout):
    """A persisted two-level spatial index (data dirs + manifest)."""

    spark: SparkSession
    path: str
    conf: EngineConfig
    spec: PartitionSpec

    axes = (("xmin", "xmax"), ("ymin", "ymax"))
    extent_cols = ("max_ex", "max_ey")

    @staticmethod
    def extent_row(ext) -> dict:
        return {"max_ex": ext[0], "max_ey": ext[1]}

    @staticmethod
    def bounds_row(lo: dict, hi: dict) -> dict:
        return {
            "xmin": lo.get("xmin"), "ymin": lo.get("ymin"),
            "xmax": hi.get("xmax"), "ymax": hi.get("ymax"),
        }

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

    @property
    def bucket_shift(self) -> int:
        return self.spec.shift if self.spec.kind == "zprefix" else 0

    def manifest_totals(self) -> DataFrame:
        """Per-bucket totals (a bucket may have several manifest rows after
        incremental inserts — totals are the roll-up)."""
        return self.manifest().groupBy("bucket").agg(
            F.min("zmin").alias("zmin"),
            F.max("zmax").alias("zmax"),
            F.min("xmin").alias("xmin"),
            F.min("ymin").alias("ymin"),
            F.max("xmax").alias("xmax"),
            F.max("ymax").alias("ymax"),
            F.sum("n_rows").alias("n_rows"),
        )

    def manifest_totals_rows(self) -> list[dict]:
        """:meth:`manifest_totals` rolled up on the driver, plus each
        bucket's max entry extents (``max_ex``, ``max_ey``)."""
        return M.rollup(
            self.manifest_rows(),
            mins=("zmin", "xmin", "ymin"),
            maxs=("zmax", "xmax", "ymax", "max_ex", "max_ey"),
        )

    def keyed(self, df: DataFrame, box: BoxCols | None = None) -> DataFrame:
        """Attach z + bucket columns per this index's partitioner."""
        box = box or BoxCols()
        cx = (F.col(box.xmin) + F.col(box.xmax)) / 2
        cy = (F.col(box.ymin) + F.col(box.ymax)) / 2
        z = curves.z_key(cx, cy, self.conf)
        out = df.withColumn("z", z)
        return out.withColumn(
            "bucket", self.spec.bucket_expr(cx, cy, F.col("z"))
        )

    def relation(self, box: BoxCols | None = None) -> "StoredRelation":
        """Queryable relation with driver-side manifest-MBR pruning plus
        (zprefix) pushed z-range row-group pruning.  Opening it runs no
        Spark job: manifest and file map are read on the driver and the
        data scan is planned with the memoized schema."""
        rows = self.manifest_totals_rows()
        fm = M.read_rows(self.fs, self.filemap_path) or []
        return StoredRelation(
            df=self.data(),
            conf=self.conf,
            box=box or BoxCols(),
            z_col="z",
            max_extent=(
                max((r["max_ex"] for r in rows), default=0.0),
                max((r["max_ey"] for r in rows), default=0.0),
            ),
            bucket_shift=self.spec.shift if self.spec.kind == "zprefix" else None,
            bucket_boxes=[
                (r["bucket"], r["xmin"], r["ymin"], r["xmax"], r["ymax"],
                 r["n_rows"])
                for r in rows
            ],
            file_boxes=[
                (r["path"], r["bucket"], r["zmin"], r["zmax"], r["n_rows"])
                for r in fm
            ],
            data_path=self.data_path,
        )

    def validate(self) -> bool:
        """``isIndexValid()`` analog (``SpatialIndex.h:209``): recompute
        per-bucket aggregates from data and diff against manifest totals."""
        cols = ["bucket", "zmin", "zmax", "xmin", "ymin", "xmax", "ymax", "n_rows"]
        got = M.manifest_for(self.data()).select(cols)
        want = self.manifest_totals().select(cols)
        return got.exceptAll(want).count() + want.exceptAll(got).count() == 0


@dataclass
class StoredRelation(SpatialRelation):
    """SpatialRelation over a stored index.

    Built by :meth:`StoredIndex.relation` with no Spark job: the bucket
    and file boxes below come from the manifest and file map read on the
    driver, and every scan (the whole root or a file subset) is planned
    with the index's memoized data schema, so nothing infers one.

    Pruning = driver-side manifest-MBR intersection (→ ``bucket IN``
    partition filter, works for every partitioner) composed with the
    Z-cover BETWEEN disjunction (zprefix only, → parquet row-group stats),
    and — when the build wrote a file map — a third, sub-bucket level:
    the scan is re-planned over ONLY the files whose [zmin, zmax] zone
    meets the cover (the ZM learned index's in-node skip,
    ``LearnedIndex.cc:1494-1507``, expressed as driver-side file
    selection).

    kNN runs the same ring core as on any relation (``knn._ring_knn``);
    this pruning plans each ring's window.
    """

    bucket_shift: int | None = None
    bucket_boxes: list = field(default_factory=list)
    # (path, bucket, zmin, zmax, n_rows) per data file — z-disjoint within
    # a bucket because the build sorts by z before splitting files
    file_boxes: list = field(default_factory=list)
    data_path: str | None = None

    def _box_plan(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float
    ) -> tuple[list | None, list[tuple[int, int]], object, list | None]:
        """Shared driver-side selection for a query window: (hit buckets
        or None = no bucket metadata, coalesced z ranges, z predicate,
        file subset or None = no file-level re-plan)."""
        hit: list | None = None
        if self.bucket_boxes:
            hit = [
                b for b, x0, y0, x1, y1, *_ in self.bucket_boxes
                if not (x0 > qxmax or x1 < qxmin or y0 > qymax or y1 < qymin)
            ]
        pred = None
        ranges: list[tuple[int, int]] = []
        if self.bucket_shift is not None and self.max_extent is not None:
            from libspatialindex_spark.plans.cover import z_cover

            expand = max(self.max_extent)
            cov = z_cover(qxmin, qymin, qxmax, qymax, self.conf, expand=expand)
            ranges = cov.coalesced(max_ranges=16)
            pred = self.z_range_predicate(cov)
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
        return hit, ranges, pred, files

    def pruned_for_box(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float
    ) -> DataFrame:
        hit, _ranges, pred, files = self._box_plan(qxmin, qymin, qxmax, qymax)
        df = self.df
        if hit is not None:
            if len(hit) == 0:
                return df.filter(F.lit(False))
            if len(hit) < len(self.bucket_boxes):
                df = df.filter(F.col("bucket").isin(hit))
        # Third level: file-zone-map refinement — re-plan the scan over
        # only the files whose z range meets the cover (and whose bucket
        # survived the MBR prune).
        if files is not None:
            if not files:
                return df.filter(F.lit(False))
            sub = (
                self.df.sparkSession.read.schema(self.df.schema)
                .option("basePath", self.data_path)
                .parquet(*files)
            )
            return sub.filter(pred) if pred is not None else sub
        if pred is not None:
            df = df.filter(pred)
        return df

    def files_planned_for_box(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float
    ) -> int:
        """Files the pruned plan can touch AFTER partition pruning.
        ``pruned.inputFiles()`` ignores the ``bucket IN`` partition filter
        (it lists the whole relation — ADVICE r3), so this derives the
        count from the same driver-side selection ``pruned_for_box``
        executes: the file-map subset when that re-plan fires, else the
        listing restricted to surviving bucket directories."""
        hit, _ranges, _pred, files = self._box_plan(qxmin, qymin, qxmax, qymax)
        if hit is not None and len(hit) == 0:
            return 0
        if files is not None:
            return len(files)
        all_files = self.df.inputFiles()
        if hit is not None and len(hit) < len(self.bucket_boxes):
            tags = tuple(f"/bucket={b}/" for b in hit)
            return sum(1 for p in all_files if any(t in p for t in tags))
        return len(all_files)


def build_index(
    df: DataFrame,
    path: str,
    conf: EngineConfig,
    box: BoxCols | None = None,
    build_id: str = "build-1",
    resume: bool = False,
    partitioner: str = "zprefix",
    cuts: list[int] | None = None,
    kd_levels: int | None = None,
    workload_boxes=None,
    max_records_per_file: int | None = None,
) -> StoredIndex:
    """Bulk-load ``df`` into a stored index at ``path``.

    ``resume=True`` reuses the persisted PartitionSpec, skips committed
    buckets, and sweeps stale uncommitted bucket dirs (crash cleanup).
    ``max_records_per_file`` splits bucket data into z-disjoint files and
    records a per-file zone map + learned rank models (B6 refinement —
    see :func:`refresh_file_map`)."""
    spark = df.sparkSession
    box = box or BoxCols()
    data_path = FS.join(path, "data")
    fs = FS.get_fs(spark, path)

    spec: PartitionSpec | None = None
    if resume:
        spec, _ = _load_spec(fs, path)
    if spec is None:
        if partitioner == "zprefix":
            spec = PartitionSpec("zprefix", shift=_bucket_shift(conf))
        elif partitioner == "cutlist":
            if not cuts:
                raise ValueError("cutlist partitioner needs explicit cuts")
            spec = PartitionSpec("cutlist", cuts=[int(c) for c in cuts])
        elif partitioner == "quantile":
            # LISA equal-frequency cuts (``learnedindex/BulkLoader.cc:
            # 488-590``): sample z, cut at distinct-value quantile borders
            # (the np.unique is the reference's duplicate-value advance,
            # ``:550-552``) — delegates to the cutlist machinery.
            cx = (F.col(box.xmin) + F.col(box.xmax)) / 2
            cy = (F.col(box.ymin) + F.col(box.ymax)) / 2
            zs = (
                df.select(curves.z_key(cx, cy, conf).alias("z"))
                .sample(fraction=min(1.0, conf.sample_fraction * 4), seed=42)
                .limit(conf.max_sample_rows)
                .toPandas()["z"]
                .to_numpy()
            )
            qs = np.quantile(
                zs, np.linspace(0, 1, 4 * conf.target_partitions + 1)[1:-1]
            )
            spec = PartitionSpec(
                "cutlist", cuts=[int(c) for c in np.unique(qs.astype(np.int64))]
            )
        elif partitioner == "kd":
            levels = kd_levels or max(
                2, math.ceil(math.log2(conf.target_partitions))
            )
            cx = (F.col(box.xmin) + F.col(box.xmax)) / 2
            cy = (F.col(box.ymin) + F.col(box.ymax)) / 2
            sample = (
                df.select(cx.alias("cx"), cy.alias("cy"))
                .sample(fraction=min(1.0, conf.sample_fraction * 4), seed=42)
                .limit(conf.max_sample_rows)
                .toPandas()
                .to_numpy()
            )
            spec = PartitionSpec(
                "kd",
                kd_tree=kd_partition_tree(
                    sample, levels, workload=workload_boxes
                ),
            )
        else:
            raise ValueError(partitioner)

    idx = StoredIndex(spark=spark, path=path, conf=conf, spec=spec)
    keyed = idx.keyed(df, box)

    done: set[int] = set()
    if resume:
        done = M.committed_buckets(spark, path)
        _sweep_uncommitted(fs, data_path, done)
        if done:
            keyed = keyed.filter(~F.col("bucket").isin([*done]))
    elif fs.isdir(path):
        fs.delete(path)
    fs.mkdirs(path)
    _save_spec(fs, path, spec, conf)

    # The "external sort": one range shuffle on z, then in-partition sort —
    # rows land clustered so parquet row-group zone maps on z are tight.
    # The max entry extents ride on the write as an Observation.
    keyed, extent = M.observe_extent(keyed, idx.axes)
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
    idx._data_schema = (  # inferred here once; queries reuse it
        spark.read.option("basePath", data_path)
        .parquet(*[FS.join(data_path, f"bucket={b}") for b in new])
        .schema
    )
    ext = idx.extent_row(extent())
    idx.append_manifest(
        idx.footer_manifest(data_path, new, dict.fromkeys(new, ext), build_id)
    )
    if max_records_per_file:
        refresh_file_map(idx)
    return idx


def refresh_file_map(idx) -> None:
    """(Re)build the per-file zone map and the per-bucket learned rank
    models (B6 completion — ``LearnedIndex.cc:1494-1507`` /
    ``BulkLoader.cc:429-445`` analog) — works on both :class:`StoredIndex`
    and the dimension-generic ``NDStoredIndex`` (the z key is a scalar
    long whatever the dimension, so the map and the models are
    dimension-blind).

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
        for z in M.file_zones(fs, idx.data_path, idx.live_buckets(), {"z"})
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
    spark: SparkSession, path: str, conf: EngineConfig | None = None
) -> StoredIndex:
    """Open a stored index.  The layout-bearing config (world, grid_bits,
    target_partitions, tile_bits) is restored from the persisted spec — the
    analog of the reference's header page (``RTree.cc:1505-1551
    loadHeader``): the stored z column was computed under the build-time
    grid, so trusting a caller-supplied conf would silently mis-prune.
    Raises when the spec file is absent (corrupt / not an index)."""
    fs = FS.get_fs(spark, path)
    spec, stored_conf = _load_spec(fs, path)
    if spec is None:
        raise FileNotFoundError(
            f"no boundaries.json under {path} — not a stored index "
            "(refusing to guess a partition spec: pruning under a wrong "
            "grid silently drops rows)"
        )
    base = conf or EngineConfig()
    if stored_conf is not None:
        base = dataclasses.replace(
            base,
            world=tuple(stored_conf["world"]),
            grid_bits=int(stored_conf["grid_bits"]),
            target_partitions=int(stored_conf["target_partitions"]),
            tile_bits=int(stored_conf.get("tile_bits", base.tile_bits)),
        )
    return StoredIndex(spark=spark, path=path, conf=base, spec=spec)


def _save_spec(fs, path: str, spec: PartitionSpec, conf: EngineConfig) -> None:
    d = spec.to_json()
    # Persist the layout-bearing config next to the partitioner (storeHeader
    # analog, RTree.cc:1445): a loader must use the build-time grid.
    d["conf"] = {
        "world": list(conf.world),
        "grid_bits": conf.grid_bits,
        "target_partitions": conf.target_partitions,
        "tile_bits": conf.tile_bits,
    }
    fs.write_text(FS.join(path, "boundaries.json"), json.dumps(d))


def _load_spec(fs, path: str) -> tuple[PartitionSpec | None, dict | None]:
    p = FS.join(path, "boundaries.json")
    if not fs.exists(p):
        return None, None
    d = json.loads(fs.read_text(p))
    if "kind" not in d:  # legacy format
        return None, None
    return PartitionSpec.from_json(d), d.get("conf")


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
