"""Opening a stored index for a query is a driver-only step.

The manifest plays the reference's header page (``RTree.cc:1505-1551``
``loadHeader``): it is read once on the driver and descended in memory.
These tests pin that ``Index.intersects`` / ``contains`` (planning only,
no action) and ``Index.bounds`` run zero Spark jobs at every index state,
that the driver-side roll-up equals the Spark aggregate it replaced, and
that query rows still equal a brute-force filter.

The indexes here have 16 buckets.  Spark lists a scan root holding more
than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
subdirectories in a listing job of its own; that job is Spark's file
listing, not the index's plan, so the fixture stays below it.
"""

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from libspatialindex_spark.api import Index
from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import index_build
from libspatialindex_spark.plans import fs as FS

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
        (r.bucket, r.xmin, r.ymin, r.xmax, r.ymax, r.n_rows)
        for r in stored.manifest_totals().collect()
    )
    assert sorted(rel.bucket_boxes) == want_boxes
    ext = stored.manifest().agg(F.max("max_ex"), F.max("max_ey")).collect()[0]
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
