"""FS abstraction (local + Hadoop-FS), crash recovery, idempotent insert,
stored-config restore, and the kNN ring-saturation edge case.

Covers VERDICT r1 items: filesystem abstraction for the stored index,
ADVICE knn.py world_r cap, ADVICE boundaries.json config persistence,
ADVICE staged manifest swap, ADVICE streaming idempotence.
"""

import json

import pytest
from pyspark.sql import functions as F

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import index_build, knn, mutations, range_query
from libspatialindex_spark.operators.relation import SpatialRelation
from libspatialindex_spark.plans import fs as FS
from libspatialindex_spark.plans import manifest as M
from libspatialindex_spark.sources import testdata as td
from tests.conftest import SF_DIR

W = (0.2, 0.2, 0.6, 0.6)


def test_hadoop_fs_roundtrip(spark, tmp_path):
    """HadoopFS (via file:// URI) supports every op the index layout uses."""
    fs = FS.HadoopFS(spark)
    base = f"file://{tmp_path}/hfs"
    fs.mkdirs(FS.join(base, "d1"))
    assert fs.isdir(FS.join(base, "d1"))
    fs.write_text(FS.join(base, "d1", "x.json"), json.dumps({"a": 1}))
    assert json.loads(fs.read_text(FS.join(base, "d1", "x.json"))) == {"a": 1}
    assert fs.read_bytes(FS.join(base, "d1", "x.json")) == b'{"a": 1}'
    assert "x.json" in fs.listdir(FS.join(base, "d1"))
    fs.rename(FS.join(base, "d1"), FS.join(base, "d2"))
    assert not fs.exists(FS.join(base, "d1")) and fs.isdir(FS.join(base, "d2"))
    fs.delete(FS.join(base, "d2"))
    assert not fs.exists(FS.join(base, "d2"))


def test_index_on_hadoop_fs_uri(spark, conf, tmp_path):
    """Full build → load → query → insert → delete cycle on a scheme-
    qualified (file://) path, i.e. through the HadoopFS code path only."""
    df = td.rects(spark, SF_DIR)
    head = df.filter(F.col("id") % 5 != 0)
    tail = df.filter(F.col("id") % 5 == 0)
    path = f"file://{tmp_path}/idx"
    idx = index_build.build_index(head, path, conf)
    assert isinstance(idx.fs, FS.HadoopFS)

    idx2 = index_build.load_index(spark, path)
    got = {r.id for r in range_query.intersects_query(idx2.relation(), *W).collect()}
    want = {
        r.id
        for r in range_query.intersects_query(
            SpatialRelation(head, conf, max_extent=(td.MAX_EXTENT,) * 2), *W
        ).collect()
    }
    assert got == want

    mutations.insert_batch(idx2, tail, build_id="ins-uri")
    assert idx2.validate()
    victims = spark.createDataFrame([(r.id,) for r in tail.limit(50).collect()], ["id"])
    mutations.delete_rows(idx2, victims)
    assert idx2.validate()


def test_load_index_restores_stored_conf(spark, tmp_path):
    """boundaries.json persists the layout config; load under a DIFFERENT
    caller conf must use the build-time grid (ADVICE index_build.py:404)."""
    build_conf = EngineConfig(grid_bits=12, target_partitions=8)
    df = td.rects(spark, SF_DIR)
    idx = index_build.build_index(df, str(tmp_path / "idx"), build_conf)
    # caller passes a mismatching conf — stored one must win
    loaded = index_build.load_index(
        spark, str(tmp_path / "idx"), EngineConfig(grid_bits=16)
    )
    assert loaded.conf.grid_bits == 12
    assert loaded.conf.world == build_conf.world
    got = {
        r.id
        for r in range_query.intersects_query(loaded.relation(), *W).collect()
    }
    want = {
        r.id
        for r in range_query.intersects_query(idx.relation(), *W).collect()
    }
    assert got == want


def test_load_index_raises_without_spec(spark, tmp_path):
    (tmp_path / "notanindex").mkdir()
    with pytest.raises(FileNotFoundError):
        index_build.load_index(spark, str(tmp_path / "notanindex"))


def test_idempotent_insert_replay(spark, conf, tmp_path):
    """Replaying the same build_id (streaming epoch redelivery) is a no-op;
    crash debris from an uncommitted attempt is swept before the re-run."""
    df = td.rects(spark, SF_DIR)
    head = df.filter(F.col("id") % 3 != 0)
    tail = df.filter(F.col("id") % 3 == 0)
    idx = index_build.build_index(head, str(tmp_path / "idx"), conf)
    n_tail = tail.count()

    mutations.insert_batch(idx, tail, build_id="epoch-7", idempotent=True)
    total1 = idx.manifest_totals().agg(F.sum("n_rows")).collect()[0][0]
    assert total1 == head.count() + n_tail

    # replay: identical build_id → skipped, totals unchanged, still valid
    mutations.insert_batch(idx, tail, build_id="epoch-7", idempotent=True)
    total2 = idx.manifest_totals().agg(F.sum("n_rows")).collect()[0][0]
    assert total2 == total1
    assert idx.validate()

    # simulate a crashed epoch: data files landed but no manifest row —
    # the prefixed debris must be swept on replay, not double-counted
    fs = idx.fs
    some_bucket = next(
        n for n in fs.listdir(idx.data_path) if n.startswith("bucket=")
    )
    bdir = FS.join(idx.data_path, some_bucket)
    victim = next(f for f in fs.listdir(bdir) if f.endswith(".parquet"))
    import shutil

    shutil.copy(FS.join(bdir, victim), FS.join(bdir, "epoch-9-debris.parquet"))
    assert not idx.validate()  # debris corrupts totals...
    mutations.insert_batch(idx, tail, build_id="epoch-9", idempotent=True)
    assert idx.validate()  # ...replay swept it and committed cleanly
    total3 = idx.manifest_totals().agg(F.sum("n_rows")).collect()[0][0]
    assert total3 == total1 + n_tail


def test_recover_finishes_interrupted_swap(spark, conf, tmp_path):
    """A bucket renamed aside with no live replacement is rolled back."""
    df = td.rects(spark, SF_DIR)
    idx = index_build.build_index(df, str(tmp_path / "idx"), conf)
    fs = idx.fs
    some_bucket = next(
        n for n in fs.listdir(idx.data_path) if n.startswith("bucket=")
    )
    live = FS.join(idx.data_path, some_bucket)
    fs.rename(live, live + ".old")  # crash left the aside copy only
    mutations.recover(idx)
    assert fs.isdir(live) and not fs.exists(live + ".old")
    assert idx.validate()
    # manifest aside with no live manifest is restored too
    mpath = M.manifest_path(idx.path)
    fs.rename(mpath, mpath + ".old")
    mutations.recover(idx)
    assert fs.isdir(mpath) and not fs.exists(mpath + ".old")
    assert idx.validate()


def test_knn_beyond_world_radius(spark):
    """ADVICE knn.py:76 — when fewer than k entries lie within world_r of
    the query point, the final pass must still return min(k, N) rows
    (entries can sit at distance > world_r, even outside the world box)."""
    rows = [
        (1, 0.01, 0.01, 0.02, 0.02),
        (2, 0.95, 0.95, 0.96, 0.96),
        (3, 1.40, 1.40, 1.45, 1.45),  # outside the unit world box
    ]
    df = spark.createDataFrame(
        rows, "id long, xmin double, ymin double, xmax double, ymax double"
    )
    rel = SpatialRelation(df, EngineConfig(), max_extent=(0.05, 0.05))
    got = knn.knn_query(rel, 0.0, 0.0, k=3)
    assert {r.id for r in got.collect()} == {1, 2, 3}
    # k > N: still returns every entry rather than hanging/dropping
    got_all = knn.knn_query(rel, 0.0, 0.0, k=10)
    assert {r.id for r in got_all.collect()} == {1, 2, 3}


def test_delete_every_row_leaves_valid_empty_index(spark, conf, tmp_path):
    """Deleting ALL rows must not break the manifest (explicit schema on
    the empty rewrite — ADVICE mutations.py:127)."""
    df = td.rects(spark, SF_DIR).limit(500)
    idx = index_build.build_index(df, str(tmp_path / "idx"), conf)
    victims = df.select("id")
    mutations.delete_rows(idx, victims)
    m = idx.manifest()
    assert m.count() == 0  # empty but readable, schema intact
    assert set(m.columns) >= {"bucket", "zmin", "n_rows", "build_id"}


def test_delete_crash_before_manifest_commit_recovers(
    spark, conf, tmp_path, monkeypatch
):
    """ADVICE r2 mutations.py:217 — an all-deleted bucket's data must
    survive a crash BEFORE the manifest commit: the aside copy is only
    dropped after _replace_manifest succeeds, so recover() restores it
    consistently with the (still-old) manifest."""
    df = td.rects(spark, SF_DIR).limit(2000)
    idx = index_build.build_index(df, str(tmp_path / "idx"), conf)
    n_total = idx.manifest_totals().agg(F.sum("n_rows")).collect()[0][0]

    # victims = EVERY row of one bucket → that bucket is all-deleted
    data = spark.read.parquet(idx.data_path)
    b0 = data.select("bucket").limit(1).collect()[0][0]
    victims = data.filter(F.col("bucket") == b0).select("id").distinct()
    assert victims.count() > 0

    def boom(*a, **k):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(mutations, "_replace_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        mutations.delete_rows(idx, victims)
    monkeypatch.undo()

    # crash window: live bucket dirs may hold new data, asides hold old —
    # nothing was permanently destroyed; recover() rolls to a consistent
    # state and the old manifest still describes restorable data.
    mutations.recover(idx)
    fs = idx.fs
    assert not any(
        n.endswith(".old") for n in fs.listdir(idx.data_path)
    )
    # the all-deleted bucket's data is back (rolled back, manifest old)
    restored = spark.read.parquet(idx.data_path)
    assert restored.filter(F.col("bucket") == b0).count() > 0
    # re-running the SAME delete to completion converges to the intended
    # final state with a consistent manifest
    mutations.delete_rows(idx, victims)
    assert idx.validate()
    left = idx.manifest_totals().agg(F.sum("n_rows")).collect()[0][0] or 0
    assert left < n_total


def test_compact_crash_before_manifest_commit_recovers(
    spark, conf, tmp_path, monkeypatch
):
    """compact() uses the delete-path swap discipline, so a crash before
    its manifest commit must also recover to a consistent state: every
    bucket readable (old or new copy), recover() sweeps asides
    consistently with the still-old manifest, re-running compact
    converges, and no row is ever lost (r5)."""
    df = td.rects(spark, SF_DIR).limit(2000)
    idx = index_build.build_index(df, str(tmp_path / "idx"), conf)
    data = spark.read.parquet(idx.data_path)
    n_total = data.count()
    # accumulate files so compact has work
    mutations.insert_batch(
        idx, td.rects(spark, SF_DIR).limit(3000).subtract(df), build_id="e1"
    )
    n_total = spark.read.parquet(idx.data_path).count()

    def boom(*a, **k):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(mutations, "_replace_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        mutations.compact(idx)
    monkeypatch.undo()

    mutations.recover(idx)
    fs = idx.fs
    assert not any(n.endswith(".old") for n in fs.listdir(idx.data_path))
    # no rows lost at any crash point (compact only rewrites physically)
    assert spark.read.parquet(idx.data_path).count() == n_total
    # re-running converges to the compacted state with a valid manifest
    mutations.compact(idx)
    assert idx.validate()
    assert spark.read.parquet(idx.data_path).count() == n_total
    counts = [
        len([
            f for f in fs.listdir(FS.join(idx.data_path, n))
            if f.endswith(".parquet")
        ])
        for n in fs.listdir(idx.data_path) if n.startswith("bucket=")
    ]
    assert max(counts) == 1
