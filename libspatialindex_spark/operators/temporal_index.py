"""Stored temporal layouts — pruned MVR / TPR queries (VERDICT r2 #3).

Round 2's Q9/Q10/Q18 answered correctly but scanned EVERY row per query;
the reference's MVR- and TPR-trees exist precisely to avoid that
(``src/mvrtree/MVRTree.cc:1295-1304`` live-root selection routes a time
query to the roots whose version interval can match;
``src/tprtree/TPRTree.cc:1207-1252`` descends velocity-expanded node MBRs).
The distributed analogs:

* **version index** (:func:`build_version_index`) — validity-interval
  entries partitioned by a ``tstart`` time bucket; the manifest keeps each
  bucket's [min tstart, max tend) envelope plus its spatial MBR.  A query
  ([window] × [qt0, qt1)) prunes, driver-side, every bucket whose time
  envelope cannot overlap the query interval or whose MBR misses the
  window — the live-root selection — and compiles the survivors into a
  partition filter.
* **moving index** (:func:`build_moving_index`) — trajectory entries
  partitioned by a position grid cell at reference time 0; the manifest
  keeps, per bucket, the t=0 box envelope AND the velocity envelope
  (min/max edge velocity per axis) — exactly a TPR internal node's
  velocity-MBR (``src/spatialindex/MovingRegion.cc`` ``getMBRAtTime``
  lifted to the node level).  A query over [t0, t1] expands each bucket's
  box by its velocity envelope over the interval and prunes buckets whose
  expanded box misses the window.  Works for moving POINTS (degenerate
  boxes, vlo = vhi) and moving REGIONS (per-edge velocities) alike.

Both manifests are driver-sized JSON (one row per bucket); the exact
predicates after the prune are the same codegen Column expressions
``operators/temporal.py`` always used, so results are unchanged — only
the rows touched shrink.  At 100 TB the partition filter keeps whole
bucket directories unread, the same mechanics as the spatial stored index.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from libspatialindex_spark.functions import geometry as G
from libspatialindex_spark.operators import temporal
from libspatialindex_spark.operators.nd import NDBox
from libspatialindex_spark.operators.relation import BoxCols
from libspatialindex_spark.plans import fs as FS

_FAR = temporal._FAR


# ---------------------------------------------------------- version index --


@dataclass
class StoredVersionIndex:
    """Time-bucketed validity-interval entries + per-bucket envelopes."""

    spark: SparkSession
    path: str
    buckets: list[dict]  # per-bucket {tb, ts_min, te_max, xmin..ymax, n_rows}
    # persisted bucketing grid (insert routing).  Equal-frequency builds
    # persist explicit `cuts` (tb = #cuts < tstart — the LISA
    # equal-frequency precedent, learnedindex/BulkLoader.cc:543-556);
    # legacy equal-width manifests carry (t_lo, width) instead
    t_lo: float = 0.0
    width: float = 1.0
    n_tbuckets: int = 16
    cuts: list | None = None
    # persisted column spec (like the moving index's `cols`): stored
    # queries/mutations must use the BUILD-time names, not defaults
    cols: dict | None = None

    def colspec(self) -> tuple[str, str, NDBox]:
        c = self.cols or {}
        b = c.get("box") or ["xmin", "ymin", "xmax", "ymax"]
        return (
            c.get("tstart", "tstart"),
            c.get("tend", "tend"),
            BoxCols(xmin=b[0], ymin=b[1], xmax=b[2], ymax=b[3]),
        )

    @property
    def data_path(self) -> str:
        return FS.join(self.path, "data")

    def df(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path)

    def hit_buckets(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float,
        qt0: float, qt1: float,
    ) -> list[int]:
        """Live-root selection: buckets whose [ts_min, te_max) envelope
        overlaps [qt0, qt1) AND whose MBR meets the window."""
        return [
            b["tb"]
            for b in self.buckets
            if b["ts_min"] < qt1 and b["te_max"] > qt0
            and not (
                b["xmin"] > qxmax or b["xmax"] < qxmin
                or b["ymin"] > qymax or b["ymax"] < qymin
            )
        ]

    def total_rows(self) -> int:
        return sum(b["n_rows"] for b in self.buckets)

    def hit_rows(self, hit: list[int]) -> int:
        s = set(hit)
        return sum(b["n_rows"] for b in self.buckets if b["tb"] in s)


def _cuts_tb_expr(cuts: list[float], tstart: str):
    """tb = #cuts < tstart (strictly-less, so a value EQUAL to a cut stays
    left — the tie-advance rule: duplicate quantiles were collapsed at
    build time, so a heavy tied value occupies exactly one bucket)."""
    from functools import reduce

    inds = [(F.col(tstart) > F.lit(float(c))).cast("long") for c in cuts]
    return reduce(lambda a, b: a + b, inds, F.lit(0).cast("long"))


def build_version_index(
    versions: DataFrame,
    path: str,
    n_tbuckets: int = 16,
    tstart: str = "tstart",
    tend: str = "tend",
    box: NDBox | None = None,
    equal_frequency: bool = True,
) -> StoredVersionIndex:
    """Partition validity-interval entries by a ``tstart`` bucket.

    Default bucketing is EQUAL-FREQUENCY (VERDICT r3 #7): cut points from
    ``approxQuantile`` with tie-advance (duplicate quantiles collapse, so
    a skewed op stream — the reference's own ``y^skewness`` stress,
    ``test/rtree/Generator.cc:70`` — cannot pile everything into one
    bucket; the LISA equal-frequency precedent,
    ``learnedindex/BulkLoader.cc:543-556``).  ``equal_frequency=False``
    keeps the legacy equal-width grid.  Either grid persists in the
    manifest for insert routing.  The manifest records each bucket's exact
    [min tstart, max tend) envelope and MBR, so pruning is lossless
    whatever the bucketing.  Data-then-manifest commit order, like every
    other stored layout here."""
    spark = versions.sparkSession
    box = box or BoxCols()
    fs = FS.get_fs(spark, path)
    data_path = FS.join(path, "data")

    rng = versions.agg(
        F.min(tstart).alias("lo"), F.max(tstart).alias("hi")
    ).collect()[0]
    t_lo, t_hi = float(rng["lo"]), float(rng["hi"])
    width = max((t_hi - t_lo) / n_tbuckets, 1e-12)
    cuts: list[float] | None = None
    if equal_frequency:
        qs = [i / n_tbuckets for i in range(1, n_tbuckets)]
        raw = versions.approxQuantile(tstart, qs, 0.001)
        # tie-advance: strictly increasing cuts only
        cuts = []
        for c in raw:
            if not cuts or c > cuts[-1]:
                cuts.append(float(c))
        tb = _cuts_tb_expr(cuts, tstart)
    else:
        tb = F.least(
            F.lit(n_tbuckets - 1),
            F.floor((F.col(tstart) - F.lit(t_lo)) / F.lit(width)),
        ).cast("long")

    if fs.isdir(path):
        fs.delete(path)
    fs.mkdirs(path)
    keyed = versions.withColumn("tb", tb)
    # ("tb", tstart): a bare tstart sort would be replaced by the writer's
    # inserted Sort(tb) (EliminateSorts), losing in-file tstart clustering
    keyed.repartition("tb").sortWithinPartitions("tb", tstart).write.partitionBy(
        "tb"
    ).mode("overwrite").parquet(data_path)

    written = spark.read.parquet(data_path)
    rows = (
        written.groupBy(F.col("tb").cast("long").alias("tb"))
        .agg(
            F.min(tstart).alias("ts_min"),
            F.max(tend).alias("te_max"),
            F.min(box.xmin).alias("xmin"),
            F.min(box.ymin).alias("ymin"),
            F.max(box.xmax).alias("xmax"),
            F.max(box.ymax).alias("ymax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    buckets = [
        {
            "tb": int(r["tb"]), "ts_min": float(r["ts_min"]),
            "te_max": float(r["te_max"]), "xmin": float(r["xmin"]),
            "ymin": float(r["ymin"]), "xmax": float(r["xmax"]),
            "ymax": float(r["ymax"]), "n_rows": int(r["n_rows"]),
        }
        for r in rows
    ]
    vcols = {
        "tstart": tstart, "tend": tend,
        "box": [box.xmin, box.ymin, box.xmax, box.ymax],
    }
    fs.write_text(
        FS.join(path, "temporal.json"),
        json.dumps({
            "kind": "versions", "buckets": buckets,
            "t_lo": t_lo, "width": width, "n_tbuckets": n_tbuckets,
            "cols": vcols, "cuts": cuts,
        }),
    )
    return StoredVersionIndex(
        spark=spark, path=path, buckets=buckets,
        t_lo=t_lo, width=width, n_tbuckets=n_tbuckets, cols=vcols,
        cuts=cuts,
    )


def load_version_index(spark: SparkSession, path: str) -> StoredVersionIndex:
    fs = FS.get_fs(spark, path)
    mpath = FS.join(path, "temporal.json")
    if not fs.exists(mpath):
        raise FileNotFoundError(f"no temporal.json under {path}")
    _check_no_asides(fs, path, "tb")
    d = json.loads(fs.read_text(mpath))
    return StoredVersionIndex(
        spark=spark, path=path, buckets=d["buckets"],
        t_lo=float(d.get("t_lo", 0.0)), width=float(d.get("width", 1.0)),
        n_tbuckets=int(d.get("n_tbuckets", len(d["buckets"]) or 16)),
        cols=d.get("cols"), cuts=d.get("cuts"),
    )


def time_range_query_stored(
    idx: StoredVersionIndex,
    qxmin: float, qymin: float, qxmax: float, qymax: float,
    qt0: float, qt1: float,
    id_col: str = "id",
) -> tuple[DataFrame, dict]:
    """Q9 over the stored layout: driver-side bucket prune → partition
    filter → the exact interval+window predicates → id dedup.  Returns
    ``(result, io)`` where io reports the prune (rows_possible vs total).
    Result ≡ ``temporal.time_range_query`` on the raw version table."""
    hit = idx.hit_buckets(qxmin, qymin, qxmax, qymax, qt0, qt1)
    io = {
        "buckets_total": len(idx.buckets),
        "buckets_scanned": len(hit),
        "rows_total": idx.total_rows(),
        "rows_scanned_bound": idx.hit_rows(hit),
    }
    df = idx.df()
    if not hit:
        return df.filter(F.lit(False)), io
    pruned = df.filter(F.col("tb").isin(hit))
    tstart, tend, b = idx.colspec()
    out = pruned.filter(
        temporal.interval_overlaps(F.col(tstart), F.col(tend), qt0, qt1)
        & G.intersects(
            F.col(b.xmin), F.col(b.ymin), F.col(b.xmax), F.col(b.ymax),
            qxmin, qymin, qxmax, qymax,
        )
    ).dropDuplicates([id_col])
    return out, io


# ------------------------------------------------------------ moving index --


@dataclass
class StoredMovingIndex:
    """Position-bucketed trajectories + per-bucket velocity envelopes."""

    spark: SparkSession
    path: str
    buckets: list[dict]
    cols: dict  # lo/hi/vlo/vhi column names per axis
    world: tuple[float, float, float, float] = (0.0, 0.0, 1.0, 1.0)
    bits: int = 3

    @property
    def data_path(self) -> str:
        return FS.join(self.path, "data")

    def df(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path)

    def hit_buckets(
        self, qxmin: float, qymin: float, qxmax: float, qymax: float,
        t0: float, t1: float,
    ) -> list[int]:
        """TPR node visit: expand each bucket's t=0 box envelope by its
        velocity envelope over [t0, t1]; prune buckets whose expanded box
        misses the window.  An entry's edge velocity lies anywhere in
        [vlo, vhi], so ``v·t`` over v ∈ [vlo, vhi], t ∈ [t0, t1] reaches
        the min/max of all four corner products — taking only the
        vlo-products below and vhi-products above is valid solely for
        t0, t1 ≥ 0 and silently over-prunes past-time queries (t0 < 0 is
        legal when horizon is None).  Conservative (a bucket may survive
        without a common-t hit) but never lossy."""
        out = []
        for b in self.buckets:
            def _lohi(vlo, vhi):
                prods = (vlo * t0, vlo * t1, vhi * t0, vhi * t1)
                return min(prods), max(prods)

            dxlo, dxhi = _lohi(b["vxlo"], b["vxhi"])
            dylo, dyhi = _lohi(b["vylo"], b["vyhi"])
            xlo = b["xlo"] + dxlo
            xhi = b["xhi"] + dxhi
            ylo = b["ylo"] + dylo
            yhi = b["yhi"] + dyhi
            if not (xlo > qxmax or xhi < qxmin or ylo > qymax or yhi < qymin):
                out.append(b["mb"])
        return out

    def total_rows(self) -> int:
        return sum(b["n_rows"] for b in self.buckets)

    def hit_rows(self, hit: list[int]) -> int:
        s = set(hit)
        return sum(b["n_rows"] for b in self.buckets if b["mb"] in s)


def build_moving_index(
    entries: DataFrame,
    path: str,
    bits: int = 3,
    world: tuple[float, float, float, float] = (0.0, 0.0, 1.0, 1.0),
    lo: tuple[str, str] = ("x", "y"),
    hi: tuple[str, str] | None = None,
    vlo: tuple[str, str] = ("vx", "vy"),
    vhi: tuple[str, str] | None = None,
) -> StoredMovingIndex:
    """Partition moving entries by the grid cell of their t=0 center
    (``2**bits`` cells per axis) and record per-bucket box + velocity
    envelopes.  Moving POINTS pass only ``lo``/``vlo`` (hi = lo, vhi =
    vlo); moving REGIONS pass all four (per-edge velocities — the
    MovingRegion algebra)."""
    hi = hi or lo
    vhi = vhi or vlo
    spark = entries.sparkSession
    fs = FS.get_fs(spark, path)
    data_path = FS.join(path, "data")
    wx0, wy0, wx1, wy1 = world
    n = 1 << bits
    cx = (F.col(lo[0]) + F.col(hi[0])) / 2
    cy = (F.col(lo[1]) + F.col(hi[1])) / 2
    ix = F.least(
        F.lit(n - 1),
        F.greatest(
            F.lit(0),
            F.floor((cx - F.lit(wx0)) / F.lit((wx1 - wx0) / n)),
        ),
    ).cast("long")
    iy = F.least(
        F.lit(n - 1),
        F.greatest(
            F.lit(0),
            F.floor((cy - F.lit(wy0)) / F.lit((wy1 - wy0) / n)),
        ),
    ).cast("long")
    mb = ix * n + iy

    if fs.isdir(path):
        fs.delete(path)
    fs.mkdirs(path)
    keyed = entries.withColumn("mb", mb)
    keyed.repartition("mb").write.partitionBy("mb").mode("overwrite").parquet(
        data_path
    )

    written = spark.read.parquet(data_path)
    rows = (
        written.groupBy(F.col("mb").cast("long").alias("mb"))
        .agg(
            F.min(lo[0]).alias("xlo"), F.max(hi[0]).alias("xhi"),
            F.min(lo[1]).alias("ylo"), F.max(hi[1]).alias("yhi"),
            F.min(vlo[0]).alias("vxlo"), F.max(vhi[0]).alias("vxhi"),
            F.min(vlo[1]).alias("vylo"), F.max(vhi[1]).alias("vyhi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    buckets = [
        {k: (int(r[k]) if k in ("mb", "n_rows") else float(r[k]))
         for k in ("mb", "xlo", "xhi", "ylo", "yhi",
                   "vxlo", "vxhi", "vylo", "vyhi", "n_rows")}
        for r in rows
    ]
    cols = {
        "lo": list(lo), "hi": list(hi), "vlo": list(vlo), "vhi": list(vhi)
    }
    fs.write_text(
        FS.join(path, "temporal.json"),
        json.dumps({
            "kind": "moving", "buckets": buckets, "cols": cols,
            "world": list(world), "bits": bits,
        }),
    )
    return StoredMovingIndex(
        spark=spark, path=path, buckets=buckets, cols=cols,
        world=world, bits=bits,
    )


def _check_no_asides(fs, path: str, part: str) -> None:
    from libspatialindex_spark.operators.ann_index import _aside_dirs

    asides = _aside_dirs(fs, FS.join(path, "data"), part)
    if asides:
        raise RuntimeError(
            f"interrupted delete under {path} (aside dirs {asides[:3]}…) — "
            "run recover_temporal_index() before reading"
        )


def recover_temporal_index(spark: SparkSession, path: str):
    """Sweep delete asides for either temporal layout (version or moving
    — dispatched from the persisted manifest kind) and re-certify the
    touched buckets' envelopes against the actual data.  Roll rule as
    :func:`ann_index.recover_ann_index`: live missing → roll the aside
    back (pre-delete); live present → swap landed, drop the aside.  The
    envelope recompute keeps pruning lossless whichever way each bucket
    rolled; an interrupted delete should be re-issued (idempotent)."""
    from libspatialindex_spark.operators.ann_index import _aside_dirs

    fs = FS.get_fs(spark, path)
    mpath = FS.join(path, "temporal.json")
    if not fs.exists(mpath):
        raise FileNotFoundError(f"no temporal.json under {path}")
    kind = json.loads(fs.read_text(mpath)).get("kind", "versions")
    part = "tb" if kind == "versions" else "mb"
    data_path = FS.join(path, "data")
    touched = []
    for name in _aside_dirs(fs, data_path, part):
        old = FS.join(data_path, name)
        live = FS.join(data_path, name[: -len(".old")])
        touched.append(int(name[len(part) + 1 : -len(".old")]))
        if fs.isdir(live):
            fs.delete(old)
        else:
            fs.rename(old, live)
    if kind == "versions":
        idx = load_version_index(spark, path)
        if touched:
            idx.buckets = _recompute_buckets(idx, part, touched, _version_agg(idx))
            _commit_json(idx, part, idx.buckets, {
                "kind": "versions", "t_lo": idx.t_lo, "width": idx.width,
                "n_tbuckets": idx.n_tbuckets, "cols": idx.cols,
                "cuts": idx.cuts,
            })
    else:
        idx = load_moving_index(spark, path)
        if touched:
            idx.buckets = _recompute_buckets(idx, part, touched, _moving_agg(idx.cols))
            _commit_json(idx, part, idx.buckets, {
                "kind": "moving", "cols": idx.cols,
                "world": list(idx.world), "bits": idx.bits,
            })
    return idx


def load_moving_index(spark: SparkSession, path: str) -> StoredMovingIndex:
    fs = FS.get_fs(spark, path)
    mpath = FS.join(path, "temporal.json")
    if not fs.exists(mpath):
        raise FileNotFoundError(f"no temporal.json under {path}")
    _check_no_asides(fs, path, "mb")
    d = json.loads(fs.read_text(mpath))
    return StoredMovingIndex(
        spark=spark, path=path, buckets=d["buckets"], cols=d["cols"],
        world=tuple(d.get("world", (0.0, 0.0, 1.0, 1.0))),
        bits=int(d.get("bits", 3)),
    )


# ------------------------------------------------- incremental mutations --
#
# The C API ships TP/MVR variants of insertData/deleteData
# (``sidx_api.h:50-105`` — Index_InsertTPData / Index_DeleteMVRData …);
# the distributed analog below is the same staged, tag-prefixed append +
# anti-join bucket rewrite the spatial mutations use, with the JSON
# envelope manifest as the commit point (single writer, like the
# reference).  Inserts route through the PERSISTED bucket grid, so
# envelopes stay exact and pruning stays lossless after any mutation.


def _version_tb_expr(idx: StoredVersionIndex, tstart: str):
    """Insert routing through the PERSISTED grid: explicit cuts when the
    index was built equal-frequency, the (t_lo, width) grid otherwise."""
    if idx.cuts is not None:
        return _cuts_tb_expr(idx.cuts, tstart)
    return F.least(
        F.lit(idx.n_tbuckets - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(tstart) - F.lit(idx.t_lo)) / F.lit(idx.width)),
        ),
    ).cast("long")


def _moving_mb_expr(idx: StoredMovingIndex):
    wx0, wy0, wx1, wy1 = idx.world
    n = 1 << idx.bits
    c = idx.cols
    cx = (F.col(c["lo"][0]) + F.col(c["hi"][0])) / 2
    cy = (F.col(c["lo"][1]) + F.col(c["hi"][1])) / 2
    ix = F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((cx - F.lit(wx0)) / F.lit((wx1 - wx0) / n))),
    ).cast("long")
    iy = F.least(
        F.lit(n - 1),
        F.greatest(F.lit(0), F.floor((cy - F.lit(wy0)) / F.lit((wy1 - wy0) / n))),
    ).cast("long")
    return ix * n + iy


def _move_staged_in(fs, staging: str, data_path: str, part: str, tag: str):
    import re as _re

    safe = _re.sub(r"[^A-Za-z0-9_.-]", "_", tag)
    for bname in fs.listdir(staging):
        if not bname.startswith(f"{part}="):
            continue
        src_dir = FS.join(staging, bname)
        dst_dir = FS.join(data_path, bname)
        fs.mkdirs(dst_dir)
        for fname in fs.listdir(src_dir):
            if fname.endswith(".parquet"):
                fs.rename(
                    FS.join(src_dir, fname),
                    FS.join(dst_dir, f"{safe}-{fname}"),
                )
    fs.delete(staging)


def _recompute_buckets(idx, part: str, touched: list[int], agg_fn) -> list[dict]:
    """Merge untouched manifest rows with freshly-aggregated touched ones."""
    fs = FS.get_fs(idx.spark, idx.path)
    keep = [b for b in idx.buckets if b[part] not in set(touched)]
    fresh = []
    live = [
        FS.join(idx.data_path, f"{part}={b}")
        for b in touched
        if fs.isdir(FS.join(idx.data_path, f"{part}={b}"))
        and any(f.endswith(".parquet")
                for f in fs.listdir(FS.join(idx.data_path, f"{part}={b}")))
    ]
    if live:
        df = idx.spark.read.option("basePath", idx.data_path).parquet(*live)
        fresh = agg_fn(df)
    return keep + fresh


def _version_agg(idx: StoredVersionIndex):
    tstart, tend, b = idx.colspec()

    def agg(df: DataFrame) -> list[dict]:
        rows = (
            df.groupBy(F.col("tb").cast("long").alias("tb"))
            .agg(
                F.min(tstart).alias("ts_min"), F.max(tend).alias("te_max"),
                F.min(b.xmin).alias("xmin"), F.min(b.ymin).alias("ymin"),
                F.max(b.xmax).alias("xmax"), F.max(b.ymax).alias("ymax"),
                F.count(F.lit(1)).alias("n_rows"),
            ).collect()
        )
        return [
            {"tb": int(r["tb"]), "ts_min": float(r["ts_min"]),
             "te_max": float(r["te_max"]), "xmin": float(r["xmin"]),
             "ymin": float(r["ymin"]), "xmax": float(r["xmax"]),
             "ymax": float(r["ymax"]), "n_rows": int(r["n_rows"])}
            for r in rows
        ]

    return agg


def _moving_agg(cols: dict):
    lo, hi, vlo, vhi = cols["lo"], cols["hi"], cols["vlo"], cols["vhi"]

    def agg(df: DataFrame) -> list[dict]:
        rows = (
            df.groupBy(F.col("mb").cast("long").alias("mb"))
            .agg(
                F.min(lo[0]).alias("xlo"), F.max(hi[0]).alias("xhi"),
                F.min(lo[1]).alias("ylo"), F.max(hi[1]).alias("yhi"),
                F.min(vlo[0]).alias("vxlo"), F.max(vhi[0]).alias("vxhi"),
                F.min(vlo[1]).alias("vylo"), F.max(vhi[1]).alias("vyhi"),
                F.count(F.lit(1)).alias("n_rows"),
            ).collect()
        )
        return [
            {k: (int(r[k]) if k in ("mb", "n_rows") else float(r[k]))
             for k in ("mb", "xlo", "xhi", "ylo", "yhi",
                       "vxlo", "vxhi", "vylo", "vyhi", "n_rows")}
            for r in rows
        ]

    return agg


def _commit_json(idx, part: str, buckets: list[dict], extra: dict) -> None:
    fs = FS.get_fs(idx.spark, idx.path)
    fs.write_text(
        FS.join(idx.path, "temporal.json"),
        json.dumps({"buckets": buckets, **extra}),
    )


def insert_versions(
    idx: StoredVersionIndex, rows: DataFrame, build_id: str = "insert",
) -> StoredVersionIndex:
    """Append version entries (Index_InsertMVRData analog): route through
    the stored tstart grid, staged write, tag-prefixed move-in, envelope
    recompute for touched buckets, JSON manifest commit."""
    fs = FS.get_fs(idx.spark, idx.path)
    staging = FS.join(idx.path, f"_staging_{build_id}")
    fs.delete(staging)
    tstart, _, _ = idx.colspec()
    keyed = rows.withColumn("tb", _version_tb_expr(idx, tstart))
    # ("tb", tstart) like the build: keeps appended files tstart-clustered
    keyed.repartition("tb").sortWithinPartitions("tb", tstart).write.partitionBy(
        "tb"
    ).mode("overwrite").parquet(staging)
    touched = sorted(
        int(n.split("=", 1)[1])
        for n in fs.listdir(staging) if n.startswith("tb=")
    )
    _move_staged_in(fs, staging, idx.data_path, "tb", build_id)
    buckets = _recompute_buckets(idx, "tb", touched, _version_agg(idx))
    extra = {"kind": "versions", "t_lo": idx.t_lo, "width": idx.width,
             "n_tbuckets": idx.n_tbuckets, "cols": idx.cols,
             "cuts": idx.cuts}
    _commit_json(idx, "tb", buckets, extra)
    idx.buckets = buckets
    return idx


def delete_versions(
    idx: StoredVersionIndex, victims: DataFrame, id_col: str = "id",
) -> StoredVersionIndex:
    """Remove version entries by id (Index_DeleteMVRData analog):
    anti-join rewrite of only the buckets holding victims."""
    tstart, _, _ = idx.colspec()
    return _delete_generic(idx, victims, id_col, "tb", _version_agg(idx), {
        "kind": "versions", "t_lo": idx.t_lo, "width": idx.width,
        "n_tbuckets": idx.n_tbuckets, "cols": idx.cols, "cuts": idx.cuts,
    }, sort_key=tstart)


def insert_moving(
    idx: StoredMovingIndex, rows: DataFrame, build_id: str = "insert",
) -> StoredMovingIndex:
    """Append trajectory entries (Index_InsertTPData analog)."""
    fs = FS.get_fs(idx.spark, idx.path)
    staging = FS.join(idx.path, f"_staging_{build_id}")
    fs.delete(staging)
    keyed = rows.withColumn("mb", _moving_mb_expr(idx))
    keyed.write.partitionBy("mb").mode("overwrite").parquet(staging)
    touched = sorted(
        int(n.split("=", 1)[1])
        for n in fs.listdir(staging) if n.startswith("mb=")
    )
    _move_staged_in(fs, staging, idx.data_path, "mb", build_id)
    buckets = _recompute_buckets(idx, "mb", touched, _moving_agg(idx.cols))
    extra = {"kind": "moving", "cols": idx.cols,
             "world": list(idx.world), "bits": idx.bits}
    _commit_json(idx, "mb", buckets, extra)
    idx.buckets = buckets
    return idx


def delete_moving(
    idx: StoredMovingIndex, victims: DataFrame, id_col: str = "id",
) -> StoredMovingIndex:
    """Remove trajectory entries by id (Index_DeleteTPData analog)."""
    return _delete_generic(idx, victims, id_col, "mb", _moving_agg(idx.cols), {
        "kind": "moving", "cols": idx.cols,
        "world": list(idx.world), "bits": idx.bits,
    })


def _delete_generic(idx, victims, id_col, part, agg_fn, extra, sort_key=None):
    spark = idx.spark
    fs = FS.get_fs(spark, idx.path)
    data = spark.read.parquet(idx.data_path)
    vb = data.join(victims.select(id_col), on=id_col, how="left_semi")
    touched = [
        int(r[part]) for r in vb.select(part).distinct().collect()
    ]
    if not touched:
        return idx
    staging = FS.join(idx.path, "_staging_delete")
    fs.delete(staging)
    survivors = (
        spark.read.option("basePath", idx.data_path).parquet(
            *[FS.join(idx.data_path, f"{part}={b}") for b in touched]
        ).join(victims.select(id_col), on=id_col, how="left_anti")
    )
    if sort_key is not None:
        # (part, key) like the build: rewritten version buckets keep their
        # tstart clustering (a bare unsorted rewrite silently degraded
        # row-group pruning — the EliminateSorts class of regression)
        survivors = survivors.sortWithinPartitions(part, sort_key)
    survivors.write.partitionBy(part).mode("overwrite").parquet(staging)
    # swap: aside → move in; asides dropped after the JSON commit
    for b in touched:
        live = FS.join(idx.data_path, f"{part}={b}")
        old = live + ".old"
        fs.delete(old)
        src = FS.join(staging, f"{part}={b}")
        has_new = fs.isdir(src) and any(
            f.endswith(".parquet") for f in fs.listdir(src)
        )
        if fs.isdir(live):
            fs.rename(live, old)
        if has_new:
            fs.rename(src, live)
    fs.delete(staging)
    buckets = _recompute_buckets(idx, part, touched, agg_fn)
    _commit_json(idx, part, buckets, extra)
    for b in touched:
        fs.delete(FS.join(idx.data_path, f"{part}={b}.old"))
    idx.buckets = buckets
    return idx


def moving_range_query_stored(
    idx: StoredMovingIndex,
    qxmin: float, qymin: float, qxmax: float, qymax: float,
    t0: float, t1: float,
    horizon: float | None = None,
    now: float = 0.0,
) -> tuple[DataFrame, dict]:
    """Q10/Q18 over the stored layout: velocity-envelope bucket prune →
    partition filter → the exact closed-form t-interval predicate.
    Dispatches points vs regions from the stored column spec.  Result ≡
    the corresponding ``temporal.moving_*_range_query`` full scan."""
    hit = idx.hit_buckets(qxmin, qymin, qxmax, qymax, t0, t1)
    io = {
        "buckets_total": len(idx.buckets),
        "buckets_scanned": len(hit),
        "rows_total": idx.total_rows(),
        "rows_scanned_bound": idx.hit_rows(hit),
    }
    df = idx.df()
    if not hit:
        temporal._check_horizon(t0, t1, horizon, now)
        return df.filter(F.lit(False)), io
    pruned = df.filter(F.col("mb").isin(hit))
    c = idx.cols
    if c["lo"] == c["hi"] and c["vlo"] == c["vhi"]:  # moving points
        out = temporal.moving_range_query(
            pruned, qxmin, qymin, qxmax, qymax, t0, t1,
            x=c["lo"][0], y=c["lo"][1], vx=c["vlo"][0], vy=c["vlo"][1],
            horizon=horizon, now=now,
        )
    else:  # moving regions (per-edge velocities)
        out = temporal.moving_region_range_query(
            pruned, qxmin, qymin, qxmax, qymax, t0, t1,
            box=(c["lo"][0], c["lo"][1], c["hi"][0], c["hi"][1]),
            vel=(c["vlo"][0], c["vlo"][1], c["vhi"][0], c["vhi"][1]),
            horizon=horizon, now=now,
        )
    return out, io


def _compact_generic(idx, part, agg_fn, extra, sort_key=None,
                     max_files_per_bucket: int = 1):
    """Shared M3 compaction for the temporal layouts: merge bucket dirs
    holding more than ``max_files_per_bucket`` files (insert debris) back
    into few files, keeping the build's in-file clustering, via the
    delete path's aside-swap + JSON-commit discipline
    (:func:`recover_temporal_index` settles any torn state)."""
    spark = idx.spark
    fs = FS.get_fs(spark, idx.path)
    touched = []
    for name in fs.listdir(idx.data_path):
        if not name.startswith(f"{part}=") or name.endswith(".old"):
            continue
        files = [
            f
            for f in fs.listdir(FS.join(idx.data_path, name))
            if f.endswith(".parquet")
        ]
        if len(files) > max_files_per_bucket:
            touched.append(int(name[len(part) + 1:]))
    if not touched:
        return idx
    staging = FS.join(idx.path, "_staging_compact")
    fs.delete(staging)
    data = spark.read.option("basePath", idx.data_path).parquet(
        *[FS.join(idx.data_path, f"{part}={b}") for b in touched]
    ).repartition(len(touched), F.col(part))
    if sort_key is not None:
        data = data.sortWithinPartitions(part, sort_key)
    data.write.partitionBy(part).mode("overwrite").parquet(staging)
    for b in touched:
        live = FS.join(idx.data_path, f"{part}={b}")
        old = live + ".old"
        fs.delete(old)
        src = FS.join(staging, f"{part}={b}")
        has_new = fs.isdir(src) and any(
            f.endswith(".parquet") for f in fs.listdir(src)
        )
        if fs.isdir(live):
            fs.rename(live, old)
        if has_new:
            fs.rename(src, live)
    fs.delete(staging)
    buckets = _recompute_buckets(idx, part, touched, agg_fn)
    _commit_json(idx, part, buckets, extra)
    for b in touched:
        fs.delete(FS.join(idx.data_path, f"{part}={b}.old"))
    idx.buckets = buckets
    return idx


def compact_versions(
    idx: StoredVersionIndex, max_files_per_bucket: int = 1
) -> StoredVersionIndex:
    """M3 maintenance for the version index (the spatial
    ``mutations.compact`` analog): restore tstart-clustered few-file
    buckets after insert batches."""
    tstart, _, _ = idx.colspec()
    return _compact_generic(idx, "tb", _version_agg(idx), {
        "kind": "versions", "t_lo": idx.t_lo, "width": idx.width,
        "n_tbuckets": idx.n_tbuckets, "cols": idx.cols, "cuts": idx.cuts,
    }, sort_key=tstart, max_files_per_bucket=max_files_per_bucket)


def compact_moving(
    idx: StoredMovingIndex, max_files_per_bucket: int = 1
) -> StoredMovingIndex:
    """M3 maintenance for the moving-object index."""
    return _compact_generic(idx, "mb", _moving_agg(idx.cols), {
        "kind": "moving", "cols": idx.cols,
        "world": list(idx.world), "bits": idx.bits,
    }, max_files_per_bucket=max_files_per_bucket)
