"""Stored temporal layouts: stored-path ≡ full-scan parity, lossless
pruning, and IO accounting showing rows_scanned ≪ total on time-selective
queries (VERDICT r2 #3 'done' criteria)."""

import pytest
from pyspark.sql import functions as F

from libspatialindex_spark.operators import temporal, temporal_index as ti
from libspatialindex_spark.operators.relation import SpatialRelation
from libspatialindex_spark.sources import testdata as td
from tests.conftest import SF_DIR

W = (0.25, 0.25, 0.30, 0.30)
TQ = (200.0, 260.0)
MQ = (0.0, 512.0)


@pytest.fixture(scope="module")
def versions(spark):
    td.register_views(spark, SF_DIR)
    return temporal.versions_from_ops(spark.sql(td.MVR_OPS_SQL))


@pytest.fixture(scope="module")
def vidx(spark, versions, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tix") / "vers")
    return ti.build_version_index(versions, path, n_tbuckets=16)


def test_version_index_matches_full_scan(spark, conf, versions, vidx):
    rel = SpatialRelation(versions, conf, max_extent=(td.MAX_EXTENT,) * 2)
    want = {r.id for r in temporal.time_range_query(rel, *W, *TQ).collect()}
    out, io = ti.time_range_query_stored(vidx, *W, *TQ)
    got = {r.id for r in out.collect()}
    assert got == want
    # the prune must be real: a 60-wide query interval over a 0..1065 span
    # touches a small fraction of the 16 tstart buckets
    assert io["buckets_scanned"] < io["buckets_total"]
    assert io["rows_scanned_bound"] < io["rows_total"] / 2


def test_version_index_partition_filter(vidx):
    hit = vidx.hit_buckets(*W, *TQ)
    plan = (
        vidx.df().filter(F.col("tb").isin(hit))
        ._jdf.queryExecution().executedPlan().toString()
    )
    part = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "tb" in part  # whole bucket directories stay unread


def test_version_index_load_roundtrip(spark, vidx):
    loaded = ti.load_version_index(spark, vidx.path)
    assert loaded.buckets == vidx.buckets


def test_version_index_empty_interval(vidx):
    out, io = ti.time_range_query_stored(vidx, *W, 5000.0, 6000.0)
    assert io["buckets_scanned"] == 0
    assert out.count() == 0


@pytest.fixture(scope="module")
def moving(spark):
    td.register_views(spark, SF_DIR)
    return spark.sql(td.MOVING_SQL)


@pytest.fixture(scope="module")
def midx(spark, moving, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tix") / "mov")
    return ti.build_moving_index(moving, path, bits=3)


def test_moving_index_matches_full_scan(spark, moving, midx):
    want = {r.id for r in temporal.moving_range_query(moving, *W, *MQ).collect()}
    out, io = ti.moving_range_query_stored(midx, *W, *MQ)
    got = {r.id for r in out.collect()}
    assert got == want
    # max displacement ≈ 512 · 32/2^20 ≈ 0.016, window 0.05 wide → the
    # velocity-enveloped prune keeps ~1-4 of 64 position buckets
    assert io["buckets_scanned"] < io["buckets_total"] / 4
    assert io["rows_scanned_bound"] < io["rows_total"] / 4


def test_moving_region_index_matches_full_scan(spark, tmp_path_factory):
    td.register_views(spark, SF_DIR)
    mr = spark.sql(td.MOVING_REGIONS_SQL)
    path = str(tmp_path_factory.mktemp("tix") / "mreg")
    idx = ti.build_moving_index(
        mr, path, bits=3, lo=("xmin", "ymin"), hi=("xmax", "ymax"),
        vlo=("vxlo", "vylo"), vhi=("vxhi", "vyhi"),
    )
    want = {
        r.id for r in temporal.moving_region_range_query(mr, *W, *MQ).collect()
    }
    out, io = ti.moving_range_query_stored(idx, *W, *MQ)
    got = {r.id for r in out.collect()}
    assert got == want
    assert io["rows_scanned_bound"] < io["rows_total"]


def test_moving_index_horizon_guard(midx):
    with pytest.raises(ValueError, match="horizon"):
        ti.moving_range_query_stored(midx, *W, 0.0, 600.0, horizon=512.0)


def test_version_index_insert_delete(spark, conf, versions, tmp_path_factory):
    """MVR insert/delete variants: append + anti-join rewrite keep the
    envelope manifest exact, so pruned queries equal the full scan on the
    mutated data."""
    path = str(tmp_path_factory.mktemp("tix") / "vmut")
    head = versions.filter(F.col("id") % 4 != 0)
    tail = versions.filter(F.col("id") % 4 == 0)
    idx = ti.build_version_index(head, path, n_tbuckets=16)
    ti.insert_versions(idx, tail, build_id="e1")
    rel = SpatialRelation(versions, conf, max_extent=(td.MAX_EXTENT,) * 2)
    want = {r.id for r in temporal.time_range_query(rel, *W, *TQ).collect()}
    out, _ = ti.time_range_query_stored(idx, *W, *TQ)
    assert {r.id for r in out.collect()} == want
    # reload round-trips the grid + envelopes
    idx2 = ti.load_version_index(spark, path)
    out2, _ = ti.time_range_query_stored(idx2, *W, *TQ)
    assert {r.id for r in out2.collect()} == want
    # delete a slice of ids and re-check against the filtered full scan
    victims = versions.filter(F.col("id") % 5 == 0).select("id").distinct()
    ti.delete_versions(idx2, victims)
    vset = {r.id for r in victims.collect()}
    out3, _ = ti.time_range_query_stored(idx2, *W, *TQ)
    assert {r.id for r in out3.collect()} == want - vset
    total = sum(b["n_rows"] for b in idx2.buckets)
    assert total == versions.join(
        victims, on="id", how="left_anti"
    ).count()


def test_moving_index_insert_delete(spark, moving, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tix") / "mmut")
    head = moving.filter(F.col("id") % 3 != 0)
    tail = moving.filter(F.col("id") % 3 == 0)
    idx = ti.build_moving_index(head, path, bits=3)
    ti.insert_moving(idx, tail, build_id="e1")
    want = {r.id for r in temporal.moving_range_query(moving, *W, *MQ).collect()}
    out, _ = ti.moving_range_query_stored(idx, *W, *MQ)
    assert {r.id for r in out.collect()} == want
    victims = moving.filter(F.col("id") % 2 == 0).select("id").distinct()
    ti.delete_moving(idx, victims)
    vset = {r.id for r in victims.collect()}
    out2, _ = ti.moving_range_query_stored(idx, *W, *MQ)
    assert {r.id for r in out2.collect()} == want - vset


def test_moving_past_time_query_matches_full_scan(spark, moving, midx):
    """ADVICE r3 (medium): for t0 < 0 (legal when horizon is None) the
    bucket envelope must take min/max over ALL four v·t corner products —
    the vlo-only/vhi-only form inverts for negative t and silently drops
    rows.  Past-time stored query ≡ full scan."""
    past = (-400.0, -50.0)
    want = {
        r.id for r in temporal.moving_range_query(moving, *W, *past).collect()
    }
    out, io = ti.moving_range_query_stored(midx, *W, *past)
    got = {r.id for r in out.collect()}
    assert got == want and len(want) > 0
    # straddling t=0 too
    span = (-100.0, 100.0)
    want2 = {
        r.id for r in temporal.moving_range_query(moving, *W, *span).collect()
    }
    out2, _ = ti.moving_range_query_stored(midx, *W, *span)
    assert {r.id for r in out2.collect()} == want2


def test_temporal_recover_after_interrupted_delete(
    spark, conf, versions, tmp_path_factory
):
    """ADVICE r3: a crash mid-delete leaves ``tb=N.old`` asides; loading
    then must refuse (mixed partition values corrupt discovery) and
    recover_temporal_index must roll each bucket to a consistent state
    (live missing → aside rolls back; live present → aside dropped),
    re-certifying envelopes."""
    import shutil

    path = str(tmp_path_factory.mktemp("tix") / "vrec")
    idx = ti.build_version_index(versions, path, n_tbuckets=16)
    out0, _ = ti.time_range_query_stored(idx, *W, *TQ)
    want = {r.id for r in out0.collect()}
    data = f"{path}/data"
    dirs = sorted(
        d for d in __import__("os").listdir(data) if d.startswith("tb=")
    )
    # torn swap: live renamed aside, replacement never landed
    shutil.move(f"{data}/{dirs[0]}", f"{data}/{dirs[0]}.old")
    # completed swap whose aside cleanup never ran
    shutil.copytree(f"{data}/{dirs[1]}", f"{data}/{dirs[1]}.old")
    with pytest.raises(RuntimeError, match="recover_temporal_index"):
        ti.load_version_index(spark, path)
    rec = ti.recover_temporal_index(spark, path)
    out1, _ = ti.time_range_query_stored(rec, *W, *TQ)
    assert {r.id for r in out1.collect()} == want
    assert sum(b["n_rows"] for b in rec.buckets) == versions.count()
    # idempotent: a second recover is a no-op
    rec2 = ti.recover_temporal_index(spark, path)
    assert rec2.buckets == rec.buckets


def test_version_index_custom_colnames(spark, versions, tmp_path_factory):
    """ADVICE r3: build-time column names must persist in the manifest and
    drive stored queries + mutations (the moving index already did this)."""
    renamed = (
        versions.withColumnRenamed("tstart", "ts")
        .withColumnRenamed("tend", "te")
        .withColumnRenamed("xmin", "x0").withColumnRenamed("ymin", "y0")
        .withColumnRenamed("xmax", "x1").withColumnRenamed("ymax", "y1")
    )
    from libspatialindex_spark.operators.relation import BoxCols

    path = str(tmp_path_factory.mktemp("tix") / "vcols")
    head = renamed.filter(F.col("id") % 4 != 0)
    tail = renamed.filter(F.col("id") % 4 == 0)
    idx = ti.build_version_index(
        head, path, n_tbuckets=16, tstart="ts", tend="te",
        box=BoxCols(xmin="x0", ymin="y0", xmax="x1", ymax="y1"),
    )
    # reload sees the persisted spec; insert + delete + query all work
    idx = ti.load_version_index(spark, path)
    ti.insert_versions(idx, tail, build_id="e1")
    victims = renamed.filter(F.col("id") % 5 == 0).select("id").distinct()
    ti.delete_versions(idx, victims)
    vset = {r.id for r in victims.collect()}
    dpath = str(tmp_path_factory.mktemp("tix") / "vdflt")
    ref = ti.build_version_index(versions, dpath, n_tbuckets=16)
    out_ref, _ = ti.time_range_query_stored(ref, *W, *TQ)
    want = {r.id for r in out_ref.collect()} - vset
    out, _ = ti.time_range_query_stored(idx, *W, *TQ)
    assert {r.id for r in out.collect()} == want


def test_version_index_equal_frequency_balanced(spark, versions, tmp_path_factory):
    """VERDICT r3 #7: a skewed op stream (y^skewness stress,
    Generator.cc:70) must not pile into one tstart bucket — approxQuantile
    cuts with tie-advance keep per-bucket rows balanced, insert routing
    uses the persisted cuts, and queries stay ≡ the full scan."""
    # skew the fixture hard: tstart ~ span * u^4 piles 76% of rows into
    # the first 1/3 of the range
    skewed = versions.withColumn(
        "tstart", F.pow(F.col("tstart") / 1100.0, 4.0) * 1100.0
    ).withColumn("tend", F.col("tstart") + 5.0)
    path = str(tmp_path_factory.mktemp("tix") / "veq")
    idx = ti.build_version_index(skewed, path, n_tbuckets=16)
    assert idx.cuts is not None
    rows = [b["n_rows"] for b in idx.buckets]
    total = sum(rows)
    # equal-width would put >60% in bucket 0; equal-frequency bounds the
    # heaviest bucket near total/16
    assert max(rows) < 0.25 * total, rows
    assert len(rows) >= 8
    # routing round-trip: reload + insert goes through the cuts
    idx2 = ti.load_version_index(spark, path)
    assert idx2.cuts == idx.cuts
    # stored query ≡ full scan on the skewed data
    from libspatialindex_spark.operators.relation import SpatialRelation

    rel = SpatialRelation(skewed, None or __import__(
        "libspatialindex_spark.config", fromlist=["DEFAULT"]
    ).DEFAULT, max_extent=(td.MAX_EXTENT,) * 2)
    q = (0.0, 0.0, 1.0, 1.0, 10.0, 40.0)
    want = {r.id for r in temporal.time_range_query(rel, *q).collect()}
    out, io = ti.time_range_query_stored(idx2, *q)
    assert {r.id for r in out.collect()} == want
    assert io["buckets_scanned"] < io["buckets_total"]


def _tdir_counts(idx, part):
    import os

    out = {}
    for name in os.listdir(idx.data_path):
        if name.startswith(f"{part}=") and not name.endswith(".old"):
            out[name] = len([
                f for f in os.listdir(os.path.join(idx.data_path, name))
                if f.endswith(".parquet")
            ])
    return out


def test_version_index_compact(spark, conf, versions, tmp_path_factory):
    """compact_versions merges insert-accumulated bucket files, keeps
    tstart-clustered in-file order, and leaves results + envelope totals
    unchanged (r5 M3 maintenance for the temporal layouts)."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("tix") / "vcmp")
    head = versions.filter(F.col("id") % 4 != 0)
    idx = ti.build_version_index(head, path, n_tbuckets=8)
    for j, m in enumerate((0, 4, 8)):
        ti.insert_versions(
            idx, versions.filter(F.col("id") % 12 == m), build_id=f"e{j}"
        )
    before = _tdir_counts(idx, "tb")
    assert max(before.values()) >= 3
    rel = SpatialRelation(versions, conf, max_extent=(td.MAX_EXTENT,) * 2)
    want = {r.id for r in temporal.time_range_query(rel, *W, *TQ).collect()}
    total_before = sum(b["n_rows"] for b in idx.buckets)

    ti.compact_versions(idx)

    after = _tdir_counts(idx, "tb")
    assert set(after) == set(before) and max(after.values()) == 1
    out, _ = ti.time_range_query_stored(idx, *W, *TQ)
    assert {r.id for r in out.collect()} == want
    assert sum(b["n_rows"] for b in idx.buckets) == total_before
    # in-file tstart clustering preserved through compaction
    for f in glob.glob(idx.data_path + "/tb=*/*.parquet"):
        t = pq.read_table(f, columns=["tstart"])["tstart"].to_numpy()
        assert (np.diff(t) >= 0).all(), f
    # reload sees the compacted manifest
    idx2 = ti.load_version_index(spark, path)
    out2, _ = ti.time_range_query_stored(idx2, *W, *TQ)
    assert {r.id for r in out2.collect()} == want


def test_moving_index_compact(spark, moving, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tix") / "mcmp")
    head = moving.filter(F.col("id") % 3 != 0)
    idx = ti.build_moving_index(head, path, bits=3)
    for j, m in enumerate((0, 3, 6)):
        ti.insert_moving(
            idx, moving.filter(F.col("id") % 9 == m), build_id=f"e{j}"
        )
    before = _tdir_counts(idx, "mb")
    assert max(before.values()) >= 2
    want = {r.id for r in temporal.moving_range_query(moving, *W, *MQ).collect()}
    ti.compact_moving(idx)
    after = _tdir_counts(idx, "mb")
    assert set(after) == set(before) and max(after.values()) == 1
    out, _ = ti.moving_range_query_stored(idx, *W, *MQ)
    assert {r.id for r in out.collect()} == want


# --- commits from parquet footers ------------------------------------------


def _aggregate(idx, part: str) -> list[dict]:
    """Per-bucket envelopes of the stored data by a Spark aggregate — the
    form the commit wrote before it read parquet footers."""
    if part == "tb":
        ts, te, b = idx.colspec()
        spec = {
            "ts_min": F.min(ts), "te_max": F.max(te),
            "xmin": F.min(b.xmin), "ymin": F.min(b.ymin),
            "xmax": F.max(b.xmax), "ymax": F.max(b.ymax),
        }
    else:
        c, spec = idx.cols, {}
        for i, a in enumerate("xy"):
            spec[f"{a}lo"] = F.min(c["lo"][i])
            spec[f"{a}hi"] = F.max(c["hi"][i])
            spec[f"v{a}lo"] = F.min(c["vlo"][i])
            spec[f"v{a}hi"] = F.max(c["vhi"][i])
    rows = (
        idx.spark.read.parquet(idx.data_path)
        .groupBy(F.col(part).cast("long").alias(part))
        .agg(*[v.alias(k) for k, v in spec.items()],
             F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    return sorted(
        ({k: int(v) if k in (part, "n_rows") else float(v)
          for k, v in r.asDict().items()} for r in rows),
        key=lambda e: e[part],
    )


def _check_envelopes(spark, idx, part: str) -> None:
    want = _aggregate(idx, part)
    assert sorted(idx.buckets, key=lambda e: e[part]) == want
    loaded = ti.load_version_index(spark, idx.path)
    assert sorted(loaded.buckets, key=lambda e: e[part]) == want


_LAYOUTS = {
    "versions": ("tb", dict(n_tbuckets=16)),
    "points": ("mb", dict(bits=3)),
    "regions": ("mb", dict(bits=3, lo=("xmin", "ymin"), hi=("xmax", "ymax"),
                           vlo=("vxlo", "vylo"), vhi=("vxhi", "vyhi"))),
}


def _entries(spark, versions, kind):
    if kind == "versions":
        return versions
    td.register_views(spark, SF_DIR)
    return spark.sql(td.MOVING_SQL if kind == "points" else td.MOVING_REGIONS_SQL)


@pytest.mark.parametrize("kind", sorted(_LAYOUTS))
def test_envelopes_from_footers_equal_spark_aggregate(
    spark, versions, tmp_path_factory, kind
):
    """Every commit takes each touched bucket's envelope from its files'
    footers; parquet min/max statistics are exact, so after build,
    insert, delete and compaction the envelopes equal the Spark
    aggregate of the data, for the version index and for moving points
    and regions."""
    part, kw = _LAYOUTS[kind]
    rows = _entries(spark, versions, kind)
    path = str(tmp_path_factory.mktemp("tix") / f"env-{kind}")
    build = ti.build_version_index if part == "tb" else ti.build_moving_index
    insert = ti.insert_versions if part == "tb" else ti.insert_moving
    delete = ti.delete_versions if part == "tb" else ti.delete_moving
    compact = ti.compact_versions if part == "tb" else ti.compact_moving

    idx = build(rows.filter(F.col("id") % 3 != 0), path, **kw)
    _check_envelopes(spark, idx, part)
    insert(idx, rows.filter(F.col("id") % 3 == 0), build_id="e1")
    _check_envelopes(spark, idx, part)
    delete(idx, rows.filter(F.col("id") % 7 == 0).select("id").distinct())
    _check_envelopes(spark, idx, part)
    compact(idx)
    _check_envelopes(spark, idx, part)
    assert idx.total_rows() == rows.filter(F.col("id") % 7 != 0).count()


def test_temporal_insert_crash_before_commit_is_recovered(
    spark, conf, versions, tmp_path_factory, monkeypatch
):
    """An insert moves its files into the live bucket dirs before its
    commit; a crash in between left rows that ``temporal.json`` did not
    count, and recovery only looked at asides.  Recovery now re-takes
    every live bucket's envelope from the footers: the rows on disk are
    counted, the envelopes equal the data, and the pruned query equals
    the full scan."""
    path = str(tmp_path_factory.mktemp("tix") / "vcrash")
    idx = ti.build_version_index(
        versions.filter(F.col("id") % 2 == 0), path, n_tbuckets=16
    )

    def boom(*a, **k):
        raise RuntimeError("crash before the commit")

    monkeypatch.setattr(ti, "_commit_json", boom)
    with pytest.raises(RuntimeError, match="crash"):
        ti.insert_versions(idx, versions.filter(F.col("id") % 2 == 1),
                           build_id="e1")
    monkeypatch.undo()

    rec = ti.recover_temporal_index(spark, path)
    on_disk = spark.read.parquet(rec.data_path).count()
    assert on_disk == versions.count()
    assert sum(b["n_rows"] for b in rec.buckets) == on_disk
    assert rec.buckets == _aggregate(rec, "tb")
    rel = SpatialRelation(versions, conf, max_extent=(td.MAX_EXTENT,) * 2)
    for q in (TQ, (0.0, 2000.0)):
        want = {r.id for r in temporal.time_range_query(rel, *W, *q).collect()}
        out, _ = ti.time_range_query_stored(rec, *W, *q)
        assert {r.id for r in out.collect()} == want
