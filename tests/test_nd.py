"""N-dimensional layer tests: Morton parity, the cover walk vs brute force,
3-D query correctness vs pandas brute force through the same query bodies
the 2-D tests run, and 3-D stored-index build parity (VERDICT r1 #3)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.operators import (
    index_build,
    knn,
    nd,
    range_query,
    spatial_join,
)
from libspatialindex_spark.operators.relation import SpatialRelation
from libspatialindex_spark.plans.cover import z_cover_nd
from libspatialindex_spark.sources import testdata as td
from tests.conftest import SF_DIR

AX3 = ((0.0, 1.0), (0.0, 1.0), (0.0, 1.0))
BOX3 = nd.NDBox((("xmin", "xmax"), ("ymin", "ymax"), ("wmin", "wmax")))
W3_LO, W3_HI = [0.25, 0.25, 0.25], [0.45, 0.45, 0.45]


@pytest.fixture(scope="module")
def r3(spark):
    td.register_views(spark, SF_DIR)
    return spark.sql(td.RECTS3D_SQL)


@pytest.fixture(scope="module")
def r3_pdf(r3):
    return r3.toPandas()


@pytest.fixture(scope="module")
def rel3(r3):
    return SpatialRelation(r3, nd.NDConfig(axes=AX3, grid_bits=10), BOX3)


def test_z_key_nd_column_matches_numpy(spark, r3):
    conf3 = nd.NDConfig(axes=AX3, grid_bits=10)
    cx = [(F.col(lo) + F.col(hi)) / 2 for lo, hi in BOX3.dims]
    got = (
        r3.select(
            curves.z_key_nd(cx, list(AX3), 10).alias("z"),
            *[c.alias(f"c{i}") for i, c in enumerate(cx)],
        )
        .limit(2000)
        .toPandas()
    )
    want = curves.np_z_key_nd(
        [got.c0.to_numpy(), got.c1.to_numpy(), got.c2.to_numpy()],
        list(AX3),
        10,
    )
    assert (got.z.to_numpy() == want).all()


def test_z_key_nd_d2_matches_2d_path(spark):
    conf = EngineConfig()
    df = td.rects(spark, SF_DIR).limit(1000)
    cx = (F.col("xmin") + F.col("xmax")) / 2
    cy = (F.col("ymin") + F.col("ymax")) / 2
    axes = [(conf.world[0], conf.world[2]), (conf.world[1], conf.world[3])]
    both = df.select(
        curves.z_key(cx, cy, conf).alias("z2"),
        curves.z_key_nd([cx, cy], axes, conf.grid_bits).alias("znd"),
    )
    assert both.filter(F.col("z2") != F.col("znd")).count() == 0


def test_cover_nd_d2_matches_quadtree_cover():
    """``z_cover_nd`` against brute force over every cell of a 5-bit grid,
    at d=2 and d=3: every cell the window meets lies in the cover (capped
    or not), every cell of a ``full`` range lies inside the window, and the
    walk keys a cell as ``np_z_key_nd`` keys its center."""
    bits, n = 5, 32
    for d in (2, 3):
        axes = [(0.0, 1.0), (-1.0, 3.0), (0.0, 2.0)][:d]
        lo = np.array([a for a, _ in axes])
        step = np.array([(b - a) / n for a, b in axes])
        cells = np.stack(
            np.meshgrid(*[np.arange(n)] * d, indexing="ij"), -1
        ).reshape(-1, d)
        clo, chi = lo + cells * step, lo + (cells + 1) * step
        z = curves.np_z_key_nd([(clo[:, a] + chi[:, a]) / 2 for a in range(d)],
                               axes, bits)
        assert [curves.z_of_cell_nd(tuple(map(int, c))) for c in cells] == list(z)

        def covered(ranges):
            m = np.zeros(len(z), dtype=bool)
            for r0, r1 in ranges:
                m |= (z >= r0) & (z <= r1)
            return m

        rng = np.random.default_rng(d)
        for _ in range(6):
            a, b = rng.uniform(lo, lo + n * step, (2, d))
            qlo, qhi = np.minimum(a, b), np.maximum(a, b)
            meets = np.all((clo <= qhi) & (chi >= qlo), axis=1)
            inside = np.all((clo >= qlo) & (chi <= qhi), axis=1)
            for cap in (10**6, 16):
                cov = z_cover_nd(list(qlo), list(qhi), axes, bits, max_cells=cap)
                assert covered(cov.all_ranges)[meets].all()
                assert inside[covered(cov.full)].all()


def test_3d_intersects_vs_pandas(rel3, r3_pdf):
    got = {
        r.id
        for r in range_query.intersects_query(rel3, *W3_LO, *W3_HI).collect()
    }
    p = r3_pdf
    m = (
        ~((p.xmin > W3_HI[0]) | (p.xmax < W3_LO[0]))
        & ~((p.ymin > W3_HI[1]) | (p.ymax < W3_LO[1]))
        & ~((p.wmin > W3_HI[2]) | (p.wmax < W3_LO[2]))
    )
    assert got == set(p.id[m]) and got


def test_3d_contains_and_point_location(rel3, r3_pdf):
    got_c = {
        r.id
        for r in range_query.contains_what_query(rel3, *W3_LO, *W3_HI).collect()
    }
    p = r3_pdf
    mc = (
        (p.xmin >= W3_LO[0]) & (p.xmax <= W3_HI[0])
        & (p.ymin >= W3_LO[1]) & (p.ymax <= W3_HI[1])
        & (p.wmin >= W3_LO[2]) & (p.wmax <= W3_HI[2])
    )
    assert got_c == set(p.id[mc])
    pt = [0.5, 0.5, 0.5]
    got_p = {r.id for r in range_query.point_location_query(rel3, *pt).collect()}
    mp = (
        (p.xmin <= pt[0]) & (pt[0] <= p.xmax)
        & (p.ymin <= pt[1]) & (pt[1] <= p.ymax)
        & (p.wmin <= pt[2]) & (pt[2] <= p.wmax)
    )
    assert got_p == set(p.id[mp])


def test_3d_knn_tie_inclusive(rel3, r3_pdf):
    k = 10
    got = knn.knn_query(rel3, 0.5, 0.5, 0.5, k).collect()
    p = r3_pdf
    dx = np.maximum.reduce([p.xmin - 0.5, 0.5 - p.xmax, np.zeros(len(p))])
    dy = np.maximum.reduce([p.ymin - 0.5, 0.5 - p.ymax, np.zeros(len(p))])
    dw = np.maximum.reduce([p.wmin - 0.5, 0.5 - p.wmax, np.zeros(len(p))])
    d2 = np.asarray(dx * dx + dy * dy + dw * dw)
    kth = np.sort(d2)[k - 1]
    want = set(p.id[d2 <= kth])
    assert {r.id for r in got} == want and len(got) >= k


def test_3d_index_build_parity_and_pruning(spark, r3, r3_pdf, tmp_path):
    """3-D stored index: build → load → pruned query equals full scan;
    manifest validates; the prune actually skips buckets."""
    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=8)
    idx = index_build.build_index(r3, str(tmp_path / "idx3"), conf3, BOX3)
    assert idx.validate()

    idx2 = index_build.load_index(spark, str(tmp_path / "idx3"))
    assert idx2.conf == conf3 and idx2.box == BOX3
    rel = idx2.relation()
    qlo, qhi = [0.25, 0.25, 0.25], [0.30, 0.30, 0.30]
    got = {r.id for r in range_query.intersects_query(rel, *qlo, *qhi).collect()}
    p = r3_pdf
    m = (
        ~((p.xmin > qhi[0]) | (p.xmax < qlo[0]))
        & ~((p.ymin > qhi[1]) | (p.ymax < qlo[1]))
        & ~((p.wmin > qhi[2]) | (p.wmax < qlo[2]))
    )
    assert got == set(p.id[m]) and got

    # pruning evidence: the bucket filter hits a strict subset
    hit = [
        b
        for b, lows, highs in rel.bucket_boxes
        if all(
            not (lo > qh or hi < ql)
            for lo, hi, ql, qh in zip(lows, highs, qlo, qhi)
        )
    ]
    assert 0 < len(hit) < len(rel.bucket_boxes)

    # kNN over the stored relation matches the derived-relation answer
    got_knn = {
        r.id for r in knn.knn_query(rel, 0.5, 0.5, 0.5, 10).collect()
    }
    rel_raw = SpatialRelation(r3, conf3, BOX3)
    want_knn = {
        r.id for r in knn.knn_query(rel_raw, 0.5, 0.5, 0.5, 10).collect()
    }
    assert got_knn == want_knn


def test_nd_count_and_bounds(rel3, r3_pdf):
    n = range_query.count_intersects(rel3, *W3_LO, *W3_HI).collect()[0]["n"]
    p = r3_pdf
    m = (
        ~((p.xmin > W3_HI[0]) | (p.xmax < W3_LO[0]))
        & ~((p.ymin > W3_HI[1]) | (p.ymax < W3_LO[1]))
        & ~((p.wmin > W3_HI[2]) | (p.wmax < W3_LO[2]))
    )
    assert n == int(m.sum())
    b = range_query.bounds(rel3).collect()[0]
    assert b["xmin"] == p.xmin.min() and b["wmax"] == p.wmax.max()


def test_index_nd_facade(spark, r3, r3_pdf, tmp_path):
    """IndexND: the C API surface at Dimension=3 (sidx Index_Create with
    a Dimension property — RTree.cc:306-308 accepts any dim > 1)."""
    from libspatialindex_spark.api import IndexND

    idx = IndexND.create(
        r3, str(tmp_path / "i3"), axes=AX3, dims=BOX3.dims
    )
    assert idx.is_valid()
    loaded = IndexND.load(spark, str(tmp_path / "i3"))
    got = {r.id for r in loaded.intersects(W3_LO, W3_HI).collect()}
    p = r3_pdf
    m = (
        ~((p.xmin > W3_HI[0]) | (p.xmax < W3_LO[0]))
        & ~((p.ymin > W3_HI[1]) | (p.ymax < W3_LO[1]))
        & ~((p.wmin > W3_HI[2]) | (p.wmax < W3_LO[2]))
    )
    assert got == set(p.id[m])
    assert loaded.intersects_count(W3_LO, W3_HI) == int(m.sum())
    b = loaded.bounds()
    assert len(b) == 6 and b[0] == p.xmin.min() and b[5] == p.wmax.max()
    # offset/limit paging, deterministic by id
    page = loaded.intersects(W3_LO, W3_HI, offset=5, limit=10).collect()
    allrows = sorted(got)
    assert [r.id for r in page] == allrows[5:15]
    k = {r.id for r in loaded.nearest([0.5, 0.5, 0.5], 10).collect()}
    assert len(k) >= 10 and k <= set(p.id)


@pytest.mark.parametrize(
    "strategy", [{"broadcast_rows_max": 0}, {}], ids=["shuffle", "default"]
)
def test_3d_self_join_vs_pandas(rel3, r3_pdf, strategy):
    """3-D window-restricted self-join: both orders, id1 != id2, pairwise
    intersection — brute-force parity (Exhaustive.cc:190-210 in 3-D), for
    the cell shuffle join and the default (a broadcast at this size)."""
    qlo, qhi = [0.40, 0.40, 0.40], [0.52, 0.52, 0.52]
    got = {
        (r.id1, r.id2)
        for r in spatial_join.self_join_query(
            rel3, *qlo, *qhi, **strategy
        ).collect()
    }
    p = r3_pdf
    m = (
        ~((p.xmin > qhi[0]) | (p.xmax < qlo[0]))
        & ~((p.ymin > qhi[1]) | (p.ymax < qlo[1]))
        & ~((p.wmin > qhi[2]) | (p.wmax < qlo[2]))
    )
    w = p[m]
    want = set()
    rows = list(w.itertuples())
    for a in rows:
        for b in rows:
            if a.id == b.id:
                continue
            if not (
                a.xmin > b.xmax or a.xmax < b.xmin
                or a.ymin > b.ymax or a.ymax < b.ymin
                or a.wmin > b.wmax or a.wmax < b.wmin
            ):
                want.add((a.id, b.id))
    assert got == want and got


def test_3d_self_join_leaves_cache_empty(spark, rel3):
    """The self-join's window base is a localCheckpoint, never a cached
    relation: after calls whose results are dropped, the session's cache
    is empty (the kNN operators' rule, test_knn_cache_released)."""
    spark.catalog.clearCache()
    for _ in range(3):
        spatial_join.self_join_query(
            rel3, 0.40, 0.40, 0.40, 0.52, 0.52, 0.52
        ).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ----------------------------------------------------- ND mutations (r3) --


def test_3d_insert_delete_validate(spark, r3, r3_pdf, tmp_path):
    """M1/M2 at d=3 through the generic staged protocol (VERDICT r2 #6):
    insert appends only touched buckets, delete rewrites only victim
    buckets, validate() stays green throughout, queries reflect the
    mutations exactly."""
    from libspatialindex_spark.operators import mutations

    head = r3.filter(F.col("id") % 4 != 0)
    tail = r3.filter(F.col("id") % 4 == 0)
    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=8)
    idx = index_build.build_index(head, str(tmp_path / "i3"), conf3, BOX3)
    assert idx.validate()

    # insert the tail (idempotent replay must be a no-op)
    mutations.insert_batch(idx, tail, build_id="e1", idempotent=True)
    assert idx.validate()
    n1 = sum(r["n_rows"] for r in idx.manifest_totals_rows())
    mutations.insert_batch(idx, tail, build_id="e1", idempotent=True)
    assert sum(r["n_rows"] for r in idx.manifest_totals_rows()) == n1
    assert n1 == len(r3_pdf)

    # full-table query parity after insert
    got = {
        r.id
        for r in range_query.intersects_query(idx.relation(), *W3_LO, *W3_HI).collect()
    }
    p = r3_pdf
    m = ~(
        (p.xmin > W3_HI[0]) | (p.xmax < W3_LO[0])
        | (p.ymin > W3_HI[1]) | (p.ymax < W3_LO[1])
        | (p.wmin > W3_HI[2]) | (p.wmax < W3_LO[2])
    )
    assert got == set(p.id[m])

    # delete a victim set by id (semi-join routing), verify queries shrink
    victim_ids = sorted(set(p.id[p.id % 7 == 0]))[:200]
    mutations.delete_rows(
        idx, spark.createDataFrame([(i,) for i in victim_ids], ["id"])
    )
    assert idx.validate()
    got2 = {
        r.id
        for r in range_query.intersects_query(idx.relation(), *W3_LO, *W3_HI).collect()
    }
    assert got2 == set(p.id[m]) - set(victim_ids)


def test_3d_delete_crash_recovery(spark, r3, tmp_path, monkeypatch):
    """The manifest-consistent recover() protocol holds at d=3: a crash
    before the manifest commit rolls every touched bucket back."""
    from libspatialindex_spark.operators import mutations

    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=8)
    df = r3.limit(2000)
    idx = index_build.build_index(df, str(tmp_path / "i3c"), conf3, BOX3)
    data = spark.read.parquet(idx.data_path)
    b0 = data.select("bucket").limit(1).collect()[0][0]
    victims = data.filter(F.col("bucket") == b0).select("id").distinct()

    def boom(*a, **k):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(mutations, "_replace_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        mutations.delete_rows(idx, victims)
    monkeypatch.undo()

    mutations.recover(idx)
    assert idx.validate()  # rolled back to the exact pre-delete state
    mutations.delete_rows(idx, victims)
    assert idx.validate()
    restored = spark.read.parquet(idx.data_path)
    assert restored.filter(F.col("bucket") == b0).count() == 0


def test_index_nd_facade_mutations(spark, r3, tmp_path):
    """IndexND.insert/delete/recover/is_valid — C API parity at d>2."""
    from libspatialindex_spark.api import IndexND

    head = r3.filter(F.col("id") % 3 != 0)
    tail = r3.filter(F.col("id") % 3 == 0).limit(500)
    ix = IndexND.create(
        spark.createDataFrame(head.toPandas()), str(tmp_path / "f3"),
        axes=AX3, dims=BOX3.dims,
    )
    assert ix.is_valid()
    ix.insert(tail, build_id="e9", idempotent=True)
    assert ix.is_valid()
    some = tail.select("id").limit(50)
    ix.delete(some)
    assert ix.recover().is_valid()


def test_3d_knn_join_vs_bruteforce(spark, rel3, r3_pdf):
    """Batch kNN at d=3: per-query tie-inclusive sets equal the pandas
    brute force (the 2-D knn_join contract, dimension-generic)."""
    qpts = [(1, 0.2, 0.2, 0.2), (2, 0.5, 0.5, 0.5), (3, 0.9, 0.1, 0.8)]
    qs = spark.createDataFrame(
        qpts, "qid long, q0 double, q1 double, q2 double"
    )
    got = {}
    for r in knn.knn_join(rel3, qs, 10, q_cols=["q0", "q1", "q2"]).collect():
        got.setdefault(r.qid, set()).add((r.id, r.dist2))
    p = r3_pdf
    for qid, qx, qy, qw in qpts:
        dx = np.maximum.reduce([p.xmin - qx, qx - p.xmax, np.zeros(len(p))])
        dy = np.maximum.reduce([p.ymin - qy, qy - p.ymax, np.zeros(len(p))])
        dw = np.maximum.reduce([p.wmin - qw, qw - p.wmax, np.zeros(len(p))])
        d2 = np.asarray(dx * dx + dy * dy + dw * dw)
        kth = np.sort(d2)[9]
        want = set(zip(p.id[d2 <= kth], d2[d2 <= kth]))
        assert got[qid] == want, qid


def test_3d_mixed_ops_replay(spark, r3, r3_pdf, tmp_path):
    """test2-style interleaved insert/delete/query replay at d=3:
    every epoch's range query diffs against the exhaustive live set."""
    from collections import Counter

    from libspatialindex_spark.operators import mutations

    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=8)
    all_rows = r3_pdf
    live = all_rows[all_rows.id % 4 == 0]
    idx = index_build.build_index(
        r3.filter(F.col("id") % 4 == 0), str(tmp_path / "mix3"), conf3, BOX3,
    )
    import pandas as pd

    for epoch in range(1, 4):
        batch = all_rows[all_rows.id % 4 == epoch]
        mutations.insert_batch(
            idx, r3.filter(F.col("id") % 4 == epoch),
            build_id=f"e{epoch}", idempotent=True,
        )
        live = pd.concat([live, batch])
        victims = sorted(set(live.id[live.id % 6 == epoch]))
        if victims:
            mutations.delete_rows(
                idx, spark.createDataFrame([(i,) for i in victims], ["id"])
            )
            live = live[~live.id.isin(victims)]
        got = Counter(
            r.id
            for r in range_query.intersects_query(idx.relation(), *W3_LO, *W3_HI).collect()
        )
        m = ~(
            (live.xmin > W3_HI[0]) | (live.xmax < W3_LO[0])
            | (live.ymin > W3_HI[1]) | (live.ymax < W3_LO[1])
            | (live.wmin > W3_HI[2]) | (live.wmax < W3_LO[2])
        )
        assert got == Counter(live.id[m].tolist()), epoch
        assert idx.validate(), epoch


# ------------------------------------------- 3-D learned refinement (B6) --


def test_3d_filemap_and_learned_models(spark, r3, r3_pdf, tmp_path_factory):
    """VERDICT r3 missing #3 — the fork's 3-D learned-index targets
    (ZMQuery3d/LISAQuery3d): file zone map + per-bucket rank models on the
    ND stored index, mirroring test_learned_filemap at d=3."""
    import dataclasses

    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=2)
    idx = index_build.build_index(
        r3, str(tmp_path_factory.mktemp("fm3") / "idx"), conf3, BOX3,
        max_records_per_file=120,
    )
    fm = idx.file_map()
    assert fm is not None
    rows = fm.collect()
    per_bucket: dict[int, list] = {}
    for r in rows:
        per_bucket.setdefault(r["bucket"], []).append((r["zmin"], r["zmax"]))
    assert any(len(v) > 1 for v in per_bucket.values())
    for spans in per_bucket.values():  # z-disjoint within each bucket
        spans.sort()
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 <= b0

    # query parity: refined ≡ bucket-only, on a small 3-D window
    rel = idx.relation()
    assert rel.file_boxes
    rel_b = dataclasses.replace(rel, file_boxes=[])
    want = {
        r.id for r in range_query.intersects_query(rel_b, *W3_LO, *W3_HI).collect()
    }
    got = {r.id for r in range_query.intersects_query(rel, *W3_LO, *W3_HI).collect()}
    assert got == want and len(want) > 0
    # the planner that prunes the scan counts its files at d=3 too: the
    # file subset it re-plans, within the bucket-only listing
    fp = rel.files_planned_for_box(*W3_LO, *W3_HI)
    assert fp == len(rel.pruned_for_box(*W3_LO, *W3_HI).inputFiles())
    assert 0 < fp <= rel_b.files_planned_for_box(*W3_LO, *W3_HI)
    assert fp < len(rel.file_boxes)

    # certified learned bounds bracket the truth (3 probed buckets)
    models = idx.zm_models()
    assert models
    data = spark.read.parquet(idx.data_path)
    for b, _m in sorted(models.items())[:3]:
        fmb = [r for r in rows if r["bucket"] == b]
        zlo = min(r["zmin"] for r in fmb)
        zhi = max(r["zmax"] for r in fmb)
        zmid = (zlo + zhi) // 2
        true = data.filter(
            (F.col("bucket") == b) & F.col("z").between(zlo, zmid)
        ).count()
        lo, hi = idx.estimate_rows(b, zlo, zmid)
        assert lo <= true <= hi, (b, lo, true, hi)


def test_3d_mutation_invalidates_filemap(spark, r3, tmp_path):
    """ND mutations must drop the stale map (it would hide inserted
    files), exactly like the 2-D path."""
    from libspatialindex_spark.operators import mutations

    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=2)
    head = r3.filter(F.col("id") % 3 != 0)
    tail = r3.filter(F.col("id") % 3 == 0)
    idx = index_build.build_index(
        head, str(tmp_path / "m3"), conf3, BOX3, max_records_per_file=120
    )
    assert idx.file_map() is not None
    mutations.insert_batch(idx, tail, build_id="e1")
    assert idx.file_map() is None and not idx.zm_models()
    # refinement rebuilds on demand; queries stay correct
    from libspatialindex_spark.operators.index_build import refresh_file_map

    refresh_file_map(idx)
    assert idx.file_map() is not None and idx.zm_models()
    rel = idx.relation()
    got = {r.id for r in range_query.intersects_query(rel, *W3_LO, *W3_HI).collect()}
    import pandas as pd  # noqa: F401

    p = r3.toPandas()
    m = ~(
        (p.xmin > W3_HI[0]) | (p.xmax < W3_LO[0])
        | (p.ymin > W3_HI[1]) | (p.ymax < W3_LO[1])
        | (p.wmin > W3_HI[2]) | (p.wmax < W3_LO[2])
    )
    assert got == set(p.id[m])


def test_3d_box_knn_matches_bruteforce(spark, r3, r3_pdf, tmp_path_factory):
    """d-dim kNN with a REGION query (nearestNeighborQuery accepts any
    IShape at any dimension) vs numpy, tie-inclusive; point kNN must be
    the degenerate box."""
    qlo, qhi = [0.40, 0.45, 0.50], [0.50, 0.55, 0.60]
    k = 10
    p = r3_pdf
    d2 = np.zeros(len(p))
    for lo_c, hi_c, ql, qh in (
        ("xmin", "xmax", qlo[0], qhi[0]),
        ("ymin", "ymax", qlo[1], qhi[1]),
        ("wmin", "wmax", qlo[2], qhi[2]),
    ):
        d = np.maximum.reduce(
            [p[lo_c] - qh, ql - p[hi_c], np.zeros(len(p))]
        )
        d2 = d2 + np.asarray(d * d)
    kth = np.sort(d2)[k - 1]
    want = set(p.id[d2 <= kth])
    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=8)
    idx = index_build.build_index(
        r3, str(tmp_path_factory.mktemp("bk3") / "idx"), conf3, BOX3
    )
    rel = idx.relation()
    got = {r.id for r in knn.knn_box_query(rel, *qlo, *qhi, k).collect()}
    assert got == want and len(want) >= k
    # degenerate-box equivalence with the point path
    pt = [0.5, 0.5, 0.5]
    a = {(r.id, r.dist2) for r in knn.knn_query(rel, *pt, k).collect()}
    b = {(r.id, r.dist2) for r in knn.knn_box_query(rel, *pt, *pt, k).collect()}
    assert a == b
    # facade surface
    from libspatialindex_spark.api import IndexND

    idx2 = IndexND.load(spark, idx.path)
    got2 = {r.id for r in idx2.nearest_box(qlo, qhi, k).collect()}
    assert got2 == want


@pytest.mark.parametrize("part", ["quantile", "kd"])
def test_3d_alt_partitioner_query_parity(spark, r3, r3_pdf, tmp_path_factory, part):
    """3-D bulk-load family parity (fork targets LISABulkLoad3d /
    KDTreeLoad3d / PlatonBulkLoad3d): every partitioner answers the same
    queries identically — pruning is manifest-MBR-driven, so only the
    bucket assignment differs.  Quantile (LISA) additionally balances
    bucket sizes; mutations route through the persisted spec."""
    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=2)
    idx = index_build.build_index(
        r3, str(tmp_path_factory.mktemp(f"p3{part}") / "idx"), conf3, BOX3,
        partitioner=part,
    )
    p = r3_pdf
    m = ~(
        (p.xmin > W3_HI[0]) | (p.xmax < W3_LO[0])
        | (p.ymin > W3_HI[1]) | (p.ymax < W3_LO[1])
        | (p.wmin > W3_HI[2]) | (p.wmax < W3_LO[2])
    )
    want = set(p.id[m])
    rel = idx.relation()
    got = {r.id for r in range_query.intersects_query(rel, *W3_LO, *W3_HI).collect()}
    assert got == want
    assert len(rel.bucket_boxes) > 1
    if part == "quantile":
        counts = [
            rr["n_rows"] for rr in idx.manifest_totals_rows()
        ]
        assert max(counts) < 0.3 * sum(counts)  # equal-frequency balance
    # load round-trip restores the partitioner; mutations route through it
    idx2 = index_build.load_index(spark, idx.path)
    assert idx2.spec.kind == idx.spec.kind
    from libspatialindex_spark.operators import mutations

    victims = r3.filter(F.col("id") % 7 == 0).select("id").distinct()
    mutations.delete_rows(idx2, victims)
    vset = {rr.id for rr in victims.collect()}
    got2 = {
        r.id
        for r in range_query.intersects_query(idx2.relation(), *W3_LO, *W3_HI).collect()
    }
    assert got2 == want - vset
    assert idx2.validate()


def test_3d_compact_after_inserts(spark, r3, tmp_path):
    """compact() is dimension-generic: ND insert batches pile files into
    octree-prefix buckets; compaction merges them with identical rows and
    a consistent manifest (same z/bucket layout as 2-D)."""
    import os

    from libspatialindex_spark.operators import mutations

    head = r3.filter(F.col("id") % 4 != 0)
    conf3 = nd.NDConfig(axes=AX3, grid_bits=10, target_partitions=8)
    idx = index_build.build_index(head, str(tmp_path / "ic3"), conf3, BOX3)
    for j, m in enumerate((0, 4, 8)):
        mutations.insert_batch(
            idx, r3.filter(F.col("id") % 12 == m), build_id=f"e{j}"
        )

    def counts():
        out = {}
        for name in idx.fs.listdir(idx.data_path):
            if name.startswith("bucket=") and not name.endswith(".old"):
                out[name] = len([
                    f
                    for f in idx.fs.listdir(
                        os.path.join(idx.data_path, name)
                    )
                    if f.endswith(".parquet")
                ])
        return out

    before = counts()
    assert max(before.values()) >= 3
    rows_before = sorted(
        r.id for r in idx.relation().df.select("id").collect()
    )
    mutations.compact(idx)
    after = counts()
    assert set(after) == set(before) and max(after.values()) == 1
    assert idx.validate()
    assert sorted(
        r.id for r in idx.relation().df.select("id").collect()
    ) == rows_before
    assert (
        sum(r["n_rows"] for r in idx.manifest_totals_rows())
        == len(rows_before)
    )
