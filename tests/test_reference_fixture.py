"""Golden-diff against the reference's OWN shipped fixture.

``/root/reference/data/gen_10000.txt`` (10,000 INSERT boxes) and
``query_1000.txt`` (1,000 0.01×0.01 QUERY windows) are the exact inputs of
the reference's canonical correctness run (``test/rtree/test3/run``: bulk
load → 1,000 intersection queries → diff against Exhaustive.cc).  This test
replays it: build the stored index over the reference's entries, answer all
1,000 windows through BOTH engine paths (JVM cell-join batch driver and the
Arrow packed-node local index), and golden-diff the full (query, id) result
multimap against a numpy port of Exhaustive.cc's closed-interval scan.
"""

import os

import numpy as np
import pandas as pd
import pytest

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import batch_query, index_build, local_index

DATA = "/root/reference/data/gen_10000.txt"
QUERIES = "/root/reference/data/query_1000.txt"
COLS = ["op", "id", "xmin", "ymin", "xmax", "ymax"]

if not (os.path.exists(DATA) and os.path.exists(QUERIES)):
    pytest.skip(
        f"reference fixture not present ({DATA}, {QUERIES})",
        allow_module_level=True,
    )


@pytest.fixture(scope="module")
def fixture():
    ents = pd.read_csv(DATA, sep=r"\s+", names=COLS)
    qs = pd.read_csv(QUERIES, sep=r"\s+", names=COLS)
    assert (ents.op == 1).all() and (qs.op == 2).all()
    return ents.drop(columns="op"), qs.drop(columns="op")


@pytest.fixture(scope="module")
def oracle_pairs(fixture):
    """Exhaustive.cc:51-59 — closed-interval scan, the ground truth."""
    ents, qs = fixture
    ex = ents[["id", "xmin", "ymin", "xmax", "ymax"]].to_numpy()
    pairs = set()
    for qi, (qx0, qy0, qx1, qy1) in enumerate(
        qs[["xmin", "ymin", "xmax", "ymax"]].to_numpy()
    ):
        hit = ~(
            (ex[:, 1] > qx1) | (ex[:, 3] < qx0)
            | (ex[:, 2] > qy1) | (ex[:, 4] < qy0)
        )
        pairs |= {(qi, int(i)) for i in ex[hit, 0]}
    return pairs


@pytest.fixture(scope="module")
def stored(spark, fixture, tmp_path_factory):
    ents, _ = fixture
    # entries run slightly past 1.0 (e.g. xmax 1.075) — widen the world
    conf = EngineConfig(target_partitions=8, world=(0.0, 0.0, 1.25, 1.25))
    df = spark.createDataFrame(ents)
    idx = index_build.build_index(
        df, str(tmp_path_factory.mktemp("ref") / "idx"), conf, build_id="ref"
    )
    assert idx.validate()
    return idx


def _windows(qs: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "qid": np.arange(len(qs), dtype=np.int64),
            "qxmin": qs.xmin.to_numpy(),
            "qymin": qs.ymin.to_numpy(),
            "qxmax": qs.xmax.to_numpy(),
            "qymax": qs.ymax.to_numpy(),
        }
    )


def test_batch_driver_matches_exhaustive(spark, fixture, stored, oracle_pairs):
    _, qs = fixture
    rel = stored.relation()
    wdf = spark.createDataFrame(_windows(qs))
    got = {
        (r.qid, r.id)
        for r in batch_query.batch_intersects(rel, wdf).collect()
    }
    assert got == oracle_pairs
    assert len(got) > 1000  # non-trivial workload


def test_packed_local_index_matches_exhaustive(fixture, stored, oracle_pairs):
    _, qs = fixture
    rel = stored.relation()
    got = {
        (r.qid, r.id)
        for r in local_index.local_batch_intersects(
            rel, _windows(qs)
        ).collect()
    }
    assert got == oracle_pairs


def test_self_join_matches_exhaustive(spark, fixture, stored):
    """test4 semantics over the reference's own entries: window-less
    self-join — every ordered pair of distinct entries whose MBRs
    intersect (closed intervals, both orders), golden-diffed against the
    Exhaustive.cc double loop (test/rtree/Exhaustive.cc:190-210)."""
    from libspatialindex_spark.operators import spatial_join

    ents, _ = fixture
    rel = stored.relation()
    got = {
        (r.id1, r.id2)
        for r in spatial_join.self_join_query(
            rel, 0.0, 0.0, 1.25, 1.25
        ).collect()
    }
    ex = ents[["id", "xmin", "ymin", "xmax", "ymax"]].to_numpy()
    ids = ex[:, 0].astype(np.int64)
    want = set()
    for i in range(len(ex)):
        hit = ~(
            (ex[:, 1] > ex[i, 3]) | (ex[:, 3] < ex[i, 1])
            | (ex[:, 2] > ex[i, 4]) | (ex[:, 4] < ex[i, 2])
        )
        hit[i] = False
        for j in np.nonzero(hit)[0]:
            want.add((int(ids[i]), int(ids[j])))
    assert got == want
    assert len(got) > 10000  # non-trivial pair count, both orders
