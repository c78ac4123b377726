"""Opening a stored index for a query, and committing a write to it, are
driver-only steps.

The manifest plays the reference's header page (``RTree.cc:1505-1551``
``loadHeader``): it is read once on the driver and descended in memory.
These tests pin that ``Index.intersects`` / ``contains`` (planning only,
no action) and ``Index.bounds`` run zero Spark jobs at every index state,
that the driver-side roll-up equals the Spark aggregate it replaced, and
that query rows still equal a brute-force filter.

A write is committed like ``storeHeader`` (``RTree.cc:1445``) writes the
page: manifest and file-map rows come from the written files' parquet
footers and are written with pyarrow, so a mutation runs no Spark job
after its data write.  The tests below pin the job counts, the parity of
footer-derived rows with the Spark aggregates they replaced, and that an
index whose manifest Spark wrote takes a driver-written append.

The indexes here have 16 buckets.  Spark lists a scan root holding more
than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
subdirectories in a listing job of its own; that job is Spark's file
listing, not the index's plan, so the fixture stays below it.
"""

import os
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from libspatialindex_spark.api import Index, IndexND
from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import index_build, mutations, nd
from libspatialindex_spark.plans import fs as FS
from libspatialindex_spark.plans import manifest as M

CONF = EngineConfig(target_partitions=4)  # 16 buckets
WINDOWS = [(0.2, 0.2, 0.45, 0.4), (0.61, 0.05, 0.62, 0.06), (0.0, 0.0, 1.0, 1.0)]


def _rects(n: int, seed: int, first_id: int = 0) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    x = rng.uniform(0.0, 0.98, n)
    y = rng.uniform(0.0, 0.98, n)
    w = rng.uniform(0.0, 0.02, (2, n))
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "xmin": x, "ymin": y, "xmax": x + w[0], "ymax": y + w[1],
    })


def _jobs(spark, fn):
    """Spark jobs ``fn`` runs, from the status tracker.  The listener bus
    is asynchronous, so a later marker job in its own group is awaited
    first: once its start is seen, every earlier job's start is too."""
    sc = spark.sparkContext
    tag = f"plan-{time.monotonic_ns()}"
    sc.setJobGroup(tag, "planning")
    try:
        out = fn()
    finally:
        sc.setJobGroup(tag + "-marker", "marker")
        spark.range(1).count()
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(tag + "-marker"):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(tag)), out


def _brute(live: pd.DataFrame, w, predicate: str) -> list[int]:
    x0, y0, x1, y1 = w
    if predicate == "intersects":
        m = ~((live.xmin > x1) | (live.xmax < x0) | (live.ymin > y1) | (live.ymax < y0))
    else:  # contains: the window holds the whole entry
        m = (live.xmin >= x0) & (live.xmax <= x1) & (live.ymin >= y0) & (live.ymax <= y1)
    return sorted(live.id[m].tolist())


def _check_state(spark, index: Index, live: pd.DataFrame) -> None:
    """Zero-job planning, roll-up parity and row parity at one state."""
    for w in WINDOWS:
        for predicate in ("intersects", "contains"):
            n, df = _jobs(spark, lambda: getattr(index, predicate)(w))
            assert n == 0, f"{predicate}{w} planned with {n} Spark jobs"
            assert sorted(r.id for r in df.collect()) == _brute(live, w, predicate)
    n, b = _jobs(spark, index.bounds)
    assert n == 0, f"bounds() ran {n} Spark jobs"
    assert b == (live.xmin.min(), live.ymin.min(), live.xmax.max(), live.ymax.max())

    stored = index.stored
    rel = stored.relation(index.box)
    want_boxes = sorted(
        (r.bucket, r.lows, r.highs) for r in stored.manifest_totals().collect()
    )
    assert sorted(rel.bucket_boxes) == want_boxes
    ext = stored.manifest().agg(
        F.max(F.col("max_ext")[0]), F.max(F.col("max_ext")[1])
    ).collect()[0]
    assert rel.max_extent == (ext[0], ext[1])
    fm = stored.file_map()
    want_files = sorted(
        (r.path, r.bucket, r.zmin, r.zmax, r.n_rows) for r in fm.collect()
    ) if fm is not None else []
    assert sorted(rel.file_boxes) == want_files


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_planning_runs_no_job_through_mutations(spark, tmp_path, scheme):
    base = _rects(3000, seed=7)
    path = f"{scheme}{tmp_path}/idx"
    index = Index.create(spark.createDataFrame(base), path, CONF,
                         max_records_per_file=200)
    assert isinstance(index.stored.fs, FS.HadoopFS if scheme else FS.LocalFS)
    assert index.stored.file_map() is not None
    live = base
    _check_state(spark, index, live)

    extra = _rects(300, seed=8, first_id=10_000)
    index.insert(spark.createDataFrame(extra), build_id="ins-1")
    live = pd.concat([live, extra], ignore_index=True)
    _check_state(spark, index, live)

    victims = live.sample(n=250, random_state=3)
    index.delete(spark.createDataFrame(victims))
    live = live[~live.id.isin(victims.id)]
    _check_state(spark, index, live)

    index.compact()
    index_build.refresh_file_map(index.stored)
    assert index.stored.file_map() is not None
    _check_state(spark, index, live)

    # a reloaded handle plans with no job after its one schema inference
    again = Index.load(spark, path, CONF)
    again.stored.data_schema()
    _check_state(spark, again, live)


def test_empty_and_missing_manifest(spark, tmp_path):
    base = _rects(400, seed=9)
    path = str(tmp_path / "idx")
    index = Index.create(spark.createDataFrame(base), path, CONF)
    index.delete(spark.createDataFrame(base[["id"]]))
    assert index.stored.manifest_rows() == []  # 0-row manifest, still plans
    assert index.bounds() == (None,) * 4
    assert index.intersects((0.0, 0.0, 1.0, 1.0)).count() == 0
    index.stored.fs.delete(index.stored.manifest_path)
    with pytest.raises(FileNotFoundError):
        index.stored.relation()
    with pytest.raises(FileNotFoundError):
        index.stored.manifest()


# --- committing a write on the driver -----------------------------------


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_mutations_run_no_job_after_the_data_write(spark, tmp_path, scheme):
    """The benchmark's layout (16 buckets, ``max_records_per_file``): an
    insert runs its range-sample and write jobs only, a delete its victim
    routing and rewrite, a compaction its rewrite.  Committing the
    manifest used to add 3 jobs to each."""
    base = _rects(5000, seed=12)
    index = Index.create(spark.createDataFrame(base), f"{scheme}{tmp_path}/idx",
                         CONF, max_records_per_file=500)
    extra = spark.createDataFrame(_rects(50, seed=13, first_id=10_000))
    victims = spark.createDataFrame(base.sample(n=50, random_state=4))

    n, _ = _jobs(spark, lambda: index.insert(extra, build_id="ins-1"))
    assert n <= 3, f"insert ran {n} Spark jobs"
    n, _ = _jobs(spark, lambda: index.delete(victims))
    assert n <= 4, f"delete ran {n} Spark jobs"
    n, _ = _jobs(spark, index.compact)
    assert n <= 2, f"compact ran {n} Spark jobs"
    assert index.is_valid()
    assert sum(r["n_rows"] for r in index.stored.manifest_rows()) == 5000


def _dir_bytes(data_dir: str) -> dict[int, int]:
    return {
        int(d[len("bucket="):]): sum(
            os.path.getsize(os.path.join(data_dir, d, f))
            for f in os.listdir(os.path.join(data_dir, d)) if f.endswith(".parquet")
        )
        for d in os.listdir(data_dir) if d.startswith("bucket=")
    }


def _true_extents(stored) -> pd.DataFrame:
    """Per-bucket max ``hi - lo`` per axis, from the data."""
    cols = [F.col("bucket").cast("long").alias("bucket")] + [
        (F.col(hi) - F.col(lo)).alias(f"e{i}")
        for i, (lo, hi) in enumerate(stored.box.dims)
    ]
    return stored.data().select(*cols).toPandas().groupby("bucket").max()


def _check_commit(stored, local_path: str, exact_extent: bool) -> None:
    """Footer-derived manifest and file map vs. the data they describe."""
    assert stored.validate()
    rows = stored.manifest_rows()
    got = {r["bucket"]: r["n_bytes"] for r in M.rollup(rows, sums=("n_bytes",))}
    assert got == _dir_bytes(os.path.join(local_path, "data"))
    true = _true_extents(stored)
    totals = {r["bucket"]: r for r in stored.manifest_totals_rows()}
    assert set(totals) == set(true.index)
    for b, r in totals.items():
        ext = r["max_ext"]
        assert all(e >= t for e, t in zip(ext, true.loc[b])), (b, ext)
    if exact_extent:
        assert tuple(stored.relation().max_extent) == tuple(true.max())

    fm = M.read_rows(stored.fs, stored.filemap_path)
    if fm is not None:
        old = stored.data().groupBy(
            F.input_file_name().alias("path"),
            F.col("bucket").cast("long").alias("bucket"),
        ).agg(F.min("z"), F.max("z"), F.count(F.lit(1)))
        assert sorted(tuple(r) for r in old.collect()) == sorted(
            (r["path"], r["bucket"], r["zmin"], r["zmax"], r["n_rows"]) for r in fm
        )


def _bucket_victims(stored, seed: int) -> tuple[pd.DataFrame, int]:
    """Every id of one bucket (so it ends up empty) plus 100 others."""
    d = stored.data().select("id", F.col("bucket").cast("long")).toPandas()
    b0 = int(d.bucket.mode()[0])
    rest = d[d.bucket != b0].sample(n=100, random_state=seed)
    return pd.concat([d[d.bucket == b0], rest])[["id"]], b0


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_footer_manifest_parity_2d(spark, tmp_path, scheme):
    base = _rects(3000, seed=14)
    base.loc[0, "xmin"] = 0.0  # a bound of exactly 0.0
    base.loc[1, "ymin"] = -0.0  # a footer min of -0.0 reads as 0.0
    local = str(tmp_path / "idx")
    index = Index.create(spark.createDataFrame(base), scheme + local, CONF,
                         max_records_per_file=200)
    stored = index.stored
    _check_commit(stored, local, exact_extent=True)
    b = index.bounds()
    assert b == (0.0, 0.0, base.xmax.max(), base.ymax.max())
    assert str(b[0]) == "0.0" and str(b[1]) == "0.0"  # not -0.0

    extra = _rects(300, seed=15, first_id=10_000)
    extra.loc[0, ["xmin", "xmax"]] = [0.5, 0.55]  # the widest entry
    index.insert(spark.createDataFrame(extra), build_id="ins-1")
    _check_commit(stored, local, exact_extent=True)

    victims, b0 = _bucket_victims(stored, 5)
    index.delete(spark.createDataFrame(victims))
    assert b0 not in {r["bucket"] for r in stored.manifest_rows()}
    _check_commit(stored, local, exact_extent=False)

    index.compact()
    index_build.refresh_file_map(stored)
    _check_commit(stored, local, exact_extent=False)
    assert str(index.bounds()[0]) == "0.0"


def test_footer_manifest_parity_nd(spark, tmp_path):
    rng = np.random.default_rng(16)
    lo = rng.uniform(0.0, 0.97, (3, 2000))
    w = rng.uniform(0.0, 0.03, (3, 2000))
    lo[:, 0] = 0.0
    cols = {"id": np.arange(2000, dtype=np.int64)}
    dims = (("xmin", "xmax"), ("ymin", "ymax"), ("wmin", "wmax"))
    for i, (a, b) in enumerate(dims):
        cols[a], cols[b] = lo[i], lo[i] + w[i]
    base = pd.DataFrame(cols)
    conf3 = nd.NDConfig(axes=((0.0, 1.0),) * 3, grid_bits=10, target_partitions=4)
    local = str(tmp_path / "i3")
    index = IndexND(stored=index_build.build_index(
        spark.createDataFrame(base), local, conf3, nd.NDBox(dims),
        max_records_per_file=150,
    ))
    stored = index.stored
    _check_commit(stored, local, exact_extent=True)
    b = index.bounds()
    assert b[:3] == (0.0, 0.0, 0.0) and all(str(v) == "0.0" for v in b[:3])

    extra = base.copy()
    extra["id"] += 10_000
    index.insert(spark.createDataFrame(extra.iloc[:200]), build_id="ins-1")
    _check_commit(stored, local, exact_extent=True)

    victims, b0 = _bucket_victims(stored, 6)
    index.delete(spark.createDataFrame(victims))
    assert b0 not in {r["bucket"] for r in stored.manifest_rows()}
    _check_commit(stored, local, exact_extent=False)

    mutations.compact(stored)
    index_build.refresh_file_map(stored)
    _check_commit(stored, local, exact_extent=False)


def test_spark_written_manifest_takes_a_driver_append(spark, tmp_path):
    """An index whose manifest Spark wrote (the earlier on-disk form) is
    appended to and replaced by pyarrow with no rebuild; the driver read
    and Spark's read of the mixed manifest agree."""
    base = _rects(2000, seed=17)
    index = Index.create(spark.createDataFrame(base), str(tmp_path / "idx"), CONF)
    stored = index.stored
    rows = stored.manifest_rows()
    spark.createDataFrame(rows, schema=M.MANIFEST_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stored.manifest_path)

    cols = M.arrow_schema(M.MANIFEST_SCHEMA).names

    def agree():
        got = sorted(tuple(r[c] for c in cols) for r in stored.manifest_rows())
        want = sorted(tuple(r) for r in stored.manifest().select(*cols).collect())
        assert got == want
        assert stored.validate()

    extra = _rects(200, seed=18, first_id=10_000)
    index.insert(spark.createDataFrame(extra), build_id="ins-1")
    assert len(M.parquet_files(stored.fs, stored.manifest_path)) == 2
    agree()
    live = pd.concat([base, extra], ignore_index=True)
    w = WINDOWS[0]
    assert sorted(r.id for r in index.intersects(w).collect()) == _brute(
        live, w, "intersects"
    )
    index.delete(spark.createDataFrame(live.sample(n=100, random_state=7)))
    agree()


# --- the temporal and ANN layouts ------------------------------------------


def _temporal_frames(spark, n: int = 4000):
    rng = np.random.default_rng(21)
    t0 = rng.uniform(0.0, 1000.0, n)
    x = rng.uniform(0.0, 0.98, n)
    y = rng.uniform(0.0, 0.98, n)
    ids = np.arange(n, dtype=np.int64)
    versions = pd.DataFrame({
        "id": ids, "tstart": t0, "tend": t0 + rng.uniform(1.0, 50.0, n),
        "xmin": x, "ymin": y, "xmax": x + 0.01, "ymax": y + 0.01,
    })
    moving = pd.DataFrame({
        "id": ids, "x": x, "y": y,
        "vx": rng.uniform(-1e-4, 1e-4, n), "vy": rng.uniform(-1e-4, 1e-4, n),
    })
    return spark.createDataFrame(versions), spark.createDataFrame(moving)


@pytest.mark.parametrize("kind", ["versions", "moving"])
def test_temporal_writes_run_no_job_after_the_data_write(spark, tmp_path, kind):
    """The temporal layouts commit like the spatial index: each touched
    bucket's envelope comes from its files' footers.  An insert runs its
    staged write only, a compaction its rewrite, a delete its victim
    routing and rewrite (5, 6 and 10 jobs when envelopes were Spark
    aggregates over an inferred-schema read).  A version-index query on a
    16-bucket index plans with no job: the read passes the handle's
    schema."""
    from libspatialindex_spark.operators import temporal_index as ti

    versions, moving = _temporal_frames(spark)
    rows = versions if kind == "versions" else moving
    if kind == "versions":
        idx = ti.build_version_index(rows.filter("id % 4 != 0"),
                                     str(tmp_path / "t"), n_tbuckets=16)
        insert, delete, compact = (
            ti.insert_versions, ti.delete_versions, ti.compact_versions)
        n, (df, _) = _jobs(spark, lambda: ti.time_range_query_stored(
            idx, 0.2, 0.2, 0.4, 0.4, 200.0, 260.0))
        assert n == 0, f"stored query planned with {n} Spark jobs"
    else:
        idx = ti.build_moving_index(rows.filter("id % 4 != 0"),
                                    str(tmp_path / "t"), bits=2)
        insert, delete, compact = (
            ti.insert_moving, ti.delete_moving, ti.compact_moving)
    extra = rows.filter("id % 4 = 0")
    victims = rows.filter("id % 9 = 0").select("id")

    n, _ = _jobs(spark, lambda: insert(idx, extra, build_id="ins-1"))
    assert n <= 2, f"insert ran {n} Spark jobs"
    n, _ = _jobs(spark, lambda: compact(idx))
    assert n <= 2, f"compact ran {n} Spark jobs"
    n, _ = _jobs(spark, lambda: delete(idx, victims))
    assert n <= 5, f"delete ran {n} Spark jobs"
    assert idx.total_rows() == rows.filter("id % 9 != 0").count()


def test_ann_writes_run_no_job_after_the_data_write(spark, tmp_path):
    """The ANN layout keeps no per-cell record: an insert runs its staged
    write only, a compaction its rewrite, a delete its victim routing and
    rewrite (8 jobs when both reads inferred their schema)."""
    from libspatialindex_spark.operators import ann_index as ai

    rng = np.random.default_rng(22)
    n = 4000
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(rng.normal(size=(n, 16))),
    }))
    idx = ai.build_ann_index(emb.filter("vec_id % 4 != 0"),
                             str(tmp_path / "a"), dim=16, stride=97)
    extra = emb.filter("vec_id % 4 = 0")
    victims = emb.filter("vec_id % 9 = 0").select("vec_id")

    n, _ = _jobs(spark, lambda: ai.insert_vectors(idx, extra, build_id="e1"))
    assert n <= 2, f"insert ran {n} Spark jobs"
    n, _ = _jobs(spark, lambda: ai.compact_ann_index(
        idx, refresh_projection=False))
    assert n <= 2, f"compact ran {n} Spark jobs"
    n, _ = _jobs(spark, lambda: ai.delete_vectors(idx, victims))
    assert n <= 6, f"delete ran {n} Spark jobs"
    assert idx.df().count() == emb.filter("vec_id % 9 != 0").count()
