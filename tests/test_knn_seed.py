"""kNN on the stored index and on plain relations: every single-query
shape runs the one certified ring core (``knn._ring_knn``), so a stored
index's answer must equal both the plain relation's and brute force; the
batch kNN join resolves per query with the same tie rule."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from libspatialindex_spark.operators import index_build, knn, mutations, nd
from libspatialindex_spark.operators.relation import SpatialRelation
from libspatialindex_spark.sources import testdata as td
from tests.conftest import SF_DIR

P, K = (0.5, 0.5), 10
SEG = (0.45, 0.40, 0.55, 0.62)


@pytest.fixture(scope="module")
def stored(spark, conf, tmp_path_factory):
    df = td.rects(spark, SF_DIR)
    path = str(tmp_path_factory.mktemp("knnidx") / "idx")
    return index_build.build_index(df, path, conf), df


def test_seeded_knn_matches_bruteforce(stored, rects_pdf, conf):
    idx, df = stored
    got = {r.id for r in knn.knn_query(idx.relation(), *P, K).collect()}
    # brute force with tie inclusion
    p = rects_pdf
    dx = np.maximum.reduce([p.xmin - P[0], P[0] - p.xmax, np.zeros(len(p))])
    dy = np.maximum.reduce([p.ymin - P[1], P[1] - p.ymax, np.zeros(len(p))])
    d2 = np.asarray(dx * dx + dy * dy)
    kth = np.sort(d2)[K - 1]
    assert got == set(p.id[d2 <= kth])
    # and equals the unseeded (derived-relation) path
    rel2 = SpatialRelation(df, conf, max_extent=(td.MAX_EXTENT,) * 2)
    assert got == {r.id for r in knn.knn_query(rel2, *P, K).collect()}


def test_knn_cache_released(stored, spark):
    """The kNN candidate persist must be released per call: over 3 calls
    the persistent-RDD count may grow only by the (tiny) localCheckpoint
    blocks (≤ 1 each), never by the full candidate caches too (2 each) —
    for the point and segment shapes on the stored index, and the point
    shape on a plain relation under an N-d config."""
    idx, df = stored
    rel = idx.relation()
    reln = SpatialRelation(df, nd.NDConfig())
    calls = [
        lambda: knn.knn_query(rel, *P, K),
        lambda: knn.knn_segment_query(rel, *SEG, K),
        lambda: knn.knn_query(reln, *P, K),
    ]
    for call in calls:
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        for _ in range(3):
            call().collect()
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after - before <= 3


SAT_ROWS = [
    (1, 0.1, 0.1, 0.2, 0.2), (2, 0.8, 0.8, 0.9, 0.9), (3, 0.4, 0.5, 0.45, 0.55)
]
SAT_SHAPES = {
    "point": lambda rel, k: knn.knn_query(rel, *P, k),
    "box": lambda rel, k: knn.knn_box_query(rel, *BOXQ, k),
    "segment": lambda rel, k: knn.knn_segment_query(rel, *SEG, k),
    "custom": lambda rel, k: knn.knn_query_custom(
        rel, F.abs(F.col("xmin") - P[0]), k
    ),
    "nd_point": lambda rel, k: knn.knn_query(rel, *P, k),
}


@pytest.fixture(scope="module")
def sat_rels(spark, conf, tmp_path_factory):
    """{(dims, kind): (3-row relation, empty relation)} — plain relations,
    and stored indexes whose every row was then deleted for the empty one."""
    df = spark.createDataFrame(
        SAT_ROWS, "id long, xmin double, ymin double, xmax double, ymax double"
    )
    base = tmp_path_factory.mktemp("knnsat")

    def emptied(idx):
        mutations.delete_rows(idx, df.select("id"))
        return idx.relation()

    def stored2(name):
        return index_build.build_index(df, str(base / name), conf)

    def stored_nd(name):
        return index_build.build_index(df, str(base / name), nd.NDConfig())

    return {
        ("2d", "plain"): (
            SpatialRelation(df, conf, max_extent=(0.1, 0.1)),
            SpatialRelation(df.filter(F.lit(False)), conf),
        ),
        ("2d", "stored"): (
            stored2("s2").relation(), emptied(stored2("s2e"))
        ),
        ("nd", "plain"): (
            SpatialRelation(df, nd.NDConfig()),
            SpatialRelation(df.filter(F.lit(False)), nd.NDConfig()),
        ),
        ("nd", "stored"): (
            stored_nd("n2").relation(), emptied(stored_nd("n2e"))
        ),
    }


@pytest.mark.parametrize("kind", ["plain", "stored"])
@pytest.mark.parametrize("shape", sorted(SAT_SHAPES))
def test_knn_saturation_and_empty(sat_rels, shape, kind):
    """Every single-query kNN shape saturates past the rings: with k > N it
    returns all N rows (the reference's min(k, N)), and on an empty
    relation no rows, with the operator's columns."""
    full, empty = sat_rels["nd" if shape.startswith("nd") else "2d", kind]
    got = SAT_SHAPES[shape](full, 5)
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    none = SAT_SHAPES[shape](empty, 5)
    assert none.collect() == []
    assert none.columns == empty.df.columns + ["dist2"]


def test_knn_join_matches_per_query_bruteforce(spark, conf, rects_pdf):
    """Batch kNN join ≡ per-query tie-inclusive brute force."""
    from pyspark.sql import functions as F

    df = td.rects(spark, SF_DIR)
    rel = SpatialRelation(df, conf, max_extent=(td.MAX_EXTENT,) * 2)
    qs = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 0.05, 0.95), (3, 0.99, 0.01)],
        "qid long, qx double, qy double",
    )
    got = {}
    for r in knn.knn_join(rel, qs, 10).collect():
        got.setdefault(r.qid, set()).add((r.id, r.dist2))
    p = rects_pdf
    for qid, qx, qy in [(1, 0.5, 0.5), (2, 0.05, 0.95), (3, 0.99, 0.01)]:
        dx = np.maximum.reduce([p.xmin - qx, qx - p.xmax, np.zeros(len(p))])
        dy = np.maximum.reduce([p.ymin - qy, qy - p.ymax, np.zeros(len(p))])
        d2 = np.asarray(dx * dx + dy * dy)
        kth = np.sort(d2)[9]
        want = set(zip(p.id[d2 <= kth], d2[d2 <= kth]))
        assert got[qid] == want, qid


def test_knn_join_fallback_min_k_n(spark):
    """k > N: every query still gets all N rows (no-cap fallback)."""
    from libspatialindex_spark.config import EngineConfig

    rows = [(1, 0.1, 0.1, 0.2, 0.2), (2, 0.8, 0.8, 0.9, 0.9)]
    df = spark.createDataFrame(
        rows, "id long, xmin double, ymin double, xmax double, ymax double"
    )
    rel = SpatialRelation(df, EngineConfig(), max_extent=(0.1, 0.1))
    qs = spark.createDataFrame(
        [(7, 0.0, 0.0), (8, 1.0, 1.0)], "qid long, qx double, qy double"
    )
    got = {}
    for r in knn.knn_join(rel, qs, 5).collect():
        got.setdefault(r.qid, set()).add(r.id)
    assert got == {7: {1, 2}, 8: {1, 2}}


def test_knn_join_non_unit_world_terminates_complete(spark):
    """ADVICE r2: on a non-unit world (1000 wide) the absolute r0 =
    RING_INIT needs ~16+ doublings to reach world_r — the loop must
    keep going until every query resolves (no silent drops)."""
    from libspatialindex_spark.config import EngineConfig

    rows = [
        (i, 100.0 * i, 100.0 * i, 100.0 * i + 1.0, 100.0 * i + 1.0)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "id long, xmin double, ymin double, xmax double, ymax double"
    )
    rel = SpatialRelation(
        df, EngineConfig(world=(0.0, 0.0, 1000.0, 1000.0)),
        max_extent=(1.0, 1.0),
    )
    qs = spark.createDataFrame(
        [(7, 0.0, 0.0), (8, 950.0, 950.0)], "qid long, qx double, qy double"
    )
    got = {}
    for r in knn.knn_join(rel, qs, 3).collect():
        got.setdefault(r.qid, set()).add(r.id)
    # every query resolved with exactly its true 3NN
    assert set(got) == {7, 8}
    assert got[7] == {0, 1, 2}
    assert got[8] == {9, 8, 7}


BOXQ = (0.48, 0.47, 0.53, 0.52)


def _brute_box_knn(p, q, k):
    """Numpy oracle: Region↔Region min dist (Region.cc:314-338), tie-incl."""
    qxmin, qymin, qxmax, qymax = q
    dx = np.maximum.reduce(
        [p.xmin - qxmax, qxmin - p.xmax, np.zeros(len(p))]
    )
    dy = np.maximum.reduce(
        [p.ymin - qymax, qymin - p.ymax, np.zeros(len(p))]
    )
    d2 = np.asarray(dx * dx + dy * dy)
    kth = np.sort(d2)[k - 1]
    return set(p.id[d2 <= kth])


def test_box_knn_matches_bruteforce(stored, rects_pdf, conf):
    """VERDICT r3 #4: nearestNeighborQuery with a Region query shape
    (Index_NearestNeighbors_obj passes a min/max box) — seeded stored path
    AND plain-relation ring path both equal the numpy oracle."""
    idx, df = stored
    want = _brute_box_knn(rects_pdf, BOXQ, K)
    got = {r.id for r in knn.knn_box_query(idx.relation(), *BOXQ, K).collect()}
    assert got == want
    rel = SpatialRelation(df, conf, max_extent=(td.MAX_EXTENT,) * 2)
    got2 = {r.id for r in knn.knn_box_query(rel, *BOXQ, K).collect()}
    assert got2 == want


def test_box_knn_ties_inside_box(stored, rects_pdf):
    """Every entry intersecting the query box has distance 0 — with a box
    big enough to contain > k entries, ALL of them are coincident at the
    k-th distance and must be returned (the RTree.cc:760-762 tie rule)."""
    idx, _ = stored
    big = (0.3, 0.3, 0.7, 0.7)
    p = rects_pdf
    inside = (
        ~((p.xmin > big[2]) | (p.xmax < big[0])
          | (p.ymin > big[3]) | (p.ymax < big[1]))
    )
    n_inside = int(inside.sum())
    assert n_inside > K  # the tie group genuinely exceeds k
    out = knn.knn_box_query(idx.relation(), *big, K)
    got = {r.id for r in out.collect()}
    assert got == set(p.id[inside])  # all zero-distance ties kept


def test_point_knn_is_degenerate_box(stored):
    idx, _ = stored
    rel = idx.relation()
    a = {(r.id, r.dist2) for r in knn.knn_query(rel, *P, K).collect()}
    b = {
        (r.id, r.dist2)
        for r in knn.knn_box_query(rel, P[0], P[1], P[0], P[1], K).collect()
    }
    assert a == b


def test_knn_custom_comparator(stored, rects_pdf):
    """INearestNeighborComparator overload: rank by a caller-supplied
    metric (here: distance of the box CENTER to P under L1) — checked
    against numpy, tie-inclusive."""
    from pyspark.sql import functions as F

    idx, _ = stored
    rel = idx.relation()
    expr = (
        F.abs((F.col("xmin") + F.col("xmax")) / 2 - P[0])
        + F.abs((F.col("ymin") + F.col("ymax")) / 2 - P[1])
    )
    got = {r.id for r in knn.knn_query_custom(rel, expr, K).collect()}
    p = rects_pdf
    d = np.abs((p.xmin + p.xmax) / 2 - P[0]) + np.abs((p.ymin + p.ymax) / 2 - P[1])
    d = np.asarray(d)
    kth = np.sort(d)[K - 1]
    assert got == set(p.id[d <= kth])


def test_knn_join_no_extent_fallback_matches(spark, conf, rects_pdf):
    """The kNN join ≡ per-query tie-inclusive brute force, with and
    without a known max extent (the join reads no extent: both relations
    must give the brute-force answer), over the derived query points plus
    a 5×5 grid reaching the world's edges."""
    df = td.rects(spark, SF_DIR)
    derived = spark.sql(
        "SELECT qid, qxmin AS qx, qymin AS qy FROM (" + td.WINDOWS_SQL + ")"
    ).limit(40)
    grid = [
        (10_000 + 5 * i + j, 0.24 * i, 0.01 + 0.245 * j)
        for i in range(5) for j in range(5)
    ]
    qpts = [tuple(r) for r in derived.collect()] + grid
    q = spark.createDataFrame(qpts, "qid long, qx double, qy double")
    p = rects_pdf
    want = set()
    for qid, qx, qy in qpts:
        dx = np.maximum.reduce([p.xmin - qx, qx - p.xmax, np.zeros(len(p))])
        dy = np.maximum.reduce([p.ymin - qy, qy - p.ymax, np.zeros(len(p))])
        d2 = np.asarray(dx * dx + dy * dy)
        kth = np.sort(d2)[K - 1]
        want |= {(qid, i, x) for i, x in zip(p.id[d2 <= kth], d2[d2 <= kth])}
    for ext in ((td.MAX_EXTENT, td.MAX_EXTENT), None):
        rel = SpatialRelation(df, conf, max_extent=ext)
        got = {(r.qid, r.id, r.dist2) for r in knn.knn_join(rel, q, K).collect()}
        assert got == want, ext
