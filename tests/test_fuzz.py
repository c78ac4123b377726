"""Fresh-seed randomized differential lane (VERDICT r4 #5).

The reference's harness regenerates random workloads EVERY run
(``test/rtree/Generator.cc:66-91``: uniform x + ``y^skewness`` point
data with tiny extents, 0.01×0.01 window queries, 10NN point queries);
the engine's fixed fixtures re-prove the same seeds each round.  This
lane regenerates generator-shaped data per run — the oracle is
recomputed from the same arrays, so the check stays EXACT at any seed.

Seed policy: ``SPARK_GRAFT_FUZZ_SEED`` pins a run for reproduction;
otherwise the seed derives from the calendar day, so every CI day
exercises fresh workloads while a red run is reproducible from the
printed seed.  Three fresh seeds run per invocation under the stable ids
``fresh0``-``fresh2`` (the ids must not follow the day, or a test's name
would change every midnight).  ``PINNED`` seeds run on every invocation
too, under ``seed<N>`` ids: fresh-seed draws kept as fixed regression
workloads.

Any failure found here should be pinned as a fixed regression fixture in
the main differential suites.
"""

import os
import time

import numpy as np
import pytest

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import knn, range_query, spatial_join
from libspatialindex_spark.operators.relation import SpatialRelation


def _base_seed() -> int:
    env = os.environ.get("SPARK_GRAFT_FUZZ_SEED")
    if env:
        return int(env)
    return int(time.time() // 86_400)  # fresh per calendar day


BASE = _base_seed()
FRESH = [BASE * 3 + j for j in range(3)]
# The lane's draws for day 20743 (2026-10-17), pinned so their exact
# workloads are re-proved on every run.
PINNED = [62229, 62230, 62231]
SEEDS = PINNED + FRESH
SEED_IDS = [f"seed{s}" for s in PINNED] + [f"fresh{j}" for j in range(3)]

N = 3_000
EXTENT = 0.002  # tiny boxes, like the generator's point-ish data


def _gen(seed: int):
    """Generator.cc-shaped rects: uniform x, y^skewness y (skew drawn per
    seed from {1, 5, 20, 100} — test1 uses 100), extents ≤ EXTENT."""
    rng = np.random.default_rng(seed)
    skew = rng.choice([1.0, 5.0, 20.0, 100.0])
    cx = rng.uniform(0.0, 1.0, N)
    cy = rng.uniform(0.0, 1.0, N) ** skew
    w = rng.uniform(0.0, EXTENT, N)
    h = rng.uniform(0.0, EXTENT, N)
    xmin = np.clip(cx - w / 2, 0.0, 1.0)
    ymin = np.clip(cy - h / 2, 0.0, 1.0)
    return {
        "id": np.arange(N, dtype=np.int64),
        "xmin": xmin,
        "ymin": ymin,
        "xmax": np.minimum(xmin + w, 1.0),
        "ymax": np.minimum(ymin + h, 1.0),
    }, rng


@pytest.fixture(scope="module", params=SEEDS, ids=SEED_IDS)
def workload(request, spark):
    seed = request.param
    origin = "pinned" if seed in PINNED else f"SPARK_GRAFT_FUZZ_SEED={BASE}"
    print(f"\n[fuzz] {origin} (worker seed {seed})")
    arrs, rng = _gen(seed)
    df = spark.createDataFrame(
        [tuple(int(arrs["id"][i]) if c == "id" else float(arrs[c][i])
               for c in ("id", "xmin", "ymin", "xmax", "ymax"))
         for i in range(N)],
        "id long, xmin double, ymin double, xmax double, ymax double",
    )
    conf = EngineConfig(target_partitions=8)
    rel = SpatialRelation(df, conf, max_extent=(EXTENT, EXTENT))
    return arrs, rng, rel


def _oracle_intersects(a, qx1, qy1, qx2, qy2):
    m = ~(
        (a["xmin"] > qx2) | (a["xmax"] < qx1)
        | (a["ymin"] > qy2) | (a["ymax"] < qy1)
    )
    return set(a["id"][m])


def test_fuzz_windows(workload):
    """20 fresh 0.01×0.01 windows (Generator.cc:86-91) vs the exhaustive
    oracle — exact set equality per window."""
    a, rng, rel = workload
    for _ in range(20):
        qx, qy = rng.uniform(0.0, 0.99, 2)
        got = {
            r.id
            for r in range_query.intersects_query(
                rel, qx, qy, qx + 0.01, qy + 0.01
            ).collect()
        }
        assert got == _oracle_intersects(a, qx, qy, qx + 0.01, qy + 0.01)


def test_fuzz_contains_and_point(workload):
    a, rng, rel = workload
    qx, qy = rng.uniform(0.0, 0.9, 2)
    qx2, qy2 = qx + 0.1, qy + 0.1
    got = {
        r.id
        for r in range_query.contains_what_query(rel, qx, qy, qx2, qy2).collect()
    }
    m = (
        (qx <= a["xmin"]) & (a["xmax"] <= qx2)
        & (qy <= a["ymin"]) & (a["ymax"] <= qy2)
    )
    assert got == set(a["id"][m])
    px, py = rng.uniform(0.0, 1.0, 2)
    got = {
        r.id for r in range_query.point_location_query(rel, px, py).collect()
    }
    m = (
        (a["xmin"] <= px) & (px <= a["xmax"])
        & (a["ymin"] <= py) & (py <= a["ymax"])
    )
    assert got == set(a["id"][m])


def test_fuzz_10nn(workload):
    """5 fresh 10NN point queries with the reference tie rule
    (Exhaustive.cc:157-188: keep everything at distance ≤ the k-th)."""
    a, rng, rel = workload
    k = 10
    for _ in range(5):
        px, py = rng.uniform(0.0, 1.0, 2)
        dx = np.maximum.reduce(
            [a["xmin"] - px, px - a["xmax"], np.zeros(N)]
        )
        dy = np.maximum.reduce(
            [a["ymin"] - py, py - a["ymax"], np.zeros(N)]
        )
        d2 = dx * dx + dy * dy
        kth = np.sort(d2)[k - 1]
        want = set(a["id"][d2 <= kth])
        got = {r.id for r in knn.knn_query(rel, px, py, k).collect()}
        assert got == want


def test_fuzz_self_join(workload):
    """Window-restricted self-join (both orders, Q5 semantics) on a fresh
    window sized to catch a few hundred pairs under the skewed pile-up."""
    a, rng, rel = workload
    qx, qy = rng.uniform(0.0, 0.8, 2)
    qx2, qy2 = qx + 0.2, qy + 0.2
    ids = _oracle_intersects(a, qx, qy, qx2, qy2)
    sub = {i: (a["xmin"][i], a["ymin"][i], a["xmax"][i], a["ymax"][i])
           for i in ids}
    want = set()
    items = list(sub.items())
    for i, (ia, ba) in enumerate(items):
        for ib, bb in items:
            if ia != ib and not (
                ba[0] > bb[2] or ba[2] < bb[0]
                or ba[1] > bb[3] or ba[3] < bb[1]
            ):
                want.add((ia, ib))
    got = {
        (r.id1, r.id2)
        for r in spatial_join.self_join_query(rel, qx, qy, qx2, qy2).collect()
    }
    assert got == want


def test_fuzz_stored_index_with_mutations(workload, tmp_path_factory):
    """The reference harness's mixed-ops shape (test2) under fresh seeds:
    bulk-load half the entries, insert the rest, delete a random subset,
    compact — after every step the STORED index answers fresh windows
    exactly like the array oracle on the corresponding state."""
    from pyspark.sql import functions as F

    from libspatialindex_spark.operators import (
        index_build,
        mutations,
        range_query,
    )

    a, rng, rel = workload
    conf = EngineConfig(target_partitions=8)
    path = str(tmp_path_factory.mktemp("fuzz") / "idx")
    df = rel.df
    head = df.filter(F.col("id") % 2 == 0)
    tail = df.filter(F.col("id") % 2 != 0)
    idx = index_build.build_index(head, path, conf)

    def check(live_ids) -> None:
        for _ in range(4):
            qx, qy = rng.uniform(0.0, 0.95, 2)
            q = (qx, qy, qx + 0.04, qy + 0.04)
            got = {
                r.id
                for r in range_query.intersects_query(
                    idx.relation(), *q
                ).collect()
            }
            assert got == _oracle_intersects(a, *q) & live_ids

    even = {int(i) for i in a["id"] if i % 2 == 0}
    check(even)
    mutations.insert_batch(idx, tail, build_id="fuzz-ins")
    allids = {int(i) for i in a["id"]}
    check(allids)
    victims = rng.choice(a["id"], size=N // 5, replace=False)
    vset = {int(v) for v in victims}
    mutations.delete_rows(
        idx,
        df.sparkSession.createDataFrame([(int(v),) for v in vset], ["id"]),
    )
    check(allids - vset)
    mutations.compact(idx)
    assert idx.validate()
    check(allids - vset)


def test_fuzz_versions_from_ops(workload):
    """Fresh-seed temporal fold (VERDICT r5 #6): a random insert/delete
    op stream — re-inserts with IDENTICAL boxes, same-timestamp
    delete+insert, never-deleted entries — folded by
    ``temporal.versions_from_ops`` vs a python rank-matching oracle.
    Exact row-set equality (also pins the r6 groupBy-zip fold)."""
    from libspatialindex_spark.operators import temporal

    a, rng, rel = workload
    spark = rel.df.sparkSession
    n_ent = 120
    ops = []
    want = set()
    for i in range(n_ent):
        box = tuple(
            float(v)
            for v in (a["xmin"][i], a["ymin"][i], a["xmax"][i], a["ymax"][i])
        )
        t0 = float(rng.integers(0, 50))
        life = float(rng.integers(1, 20))
        kind = int(rng.integers(0, 4))
        if kind == 0:  # plain lifetime
            ops += [(1, i, t0, *box), (0, i, t0 + life, *box)]
            want.add((i, *box, t0, t0 + life))
        elif kind == 1:  # never deleted (open interval)
            ops += [(1, i, t0, *box)]
            want.add((i, *box, t0, 1.0e18))
        elif kind == 2:  # delete + re-insert with the SAME box at one t
            tm = t0 + life
            ops += [
                (1, i, t0, *box), (0, i, tm, *box),
                (1, i, tm, *box), (0, i, tm + life, *box),
            ]
            want.add((i, *box, t0, tm))
            want.add((i, *box, tm, tm + life))
        else:  # shifted second version (distinct box)
            dx = float(rng.integers(1, 9)) / 1024.0
            box2 = (box[0] + dx, box[1], box[2] + dx, box[3])
            tm = t0 + life
            ops += [
                (1, i, t0, *box), (0, i, tm, *box),
                (1, i, tm, *box2), (0, i, tm + life, *box2),
            ]
            want.add((i, *box, t0, tm))
            want.add((i, *box2, tm, tm + life))
    df = spark.createDataFrame(
        ops, "op int, id long, t double, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    got = {
        (r.id, r.xmin, r.ymin, r.xmax, r.ymax, r.tstart, r.tend)
        for r in temporal.versions_from_ops(df).collect()
    }
    assert got == want


def test_fuzz_knn_join(workload):
    """Fresh-seed batch kNN join (VERDICT r5 #6): 25 random query points
    against the workload rects, tie-inclusive per query, vs the numpy
    exhaustive oracle (Exhaustive.cc:157-188 tie rule per query)."""
    a, rng, rel = workload
    spark = rel.df.sparkSession
    k = 10
    qpts = [(int(j), float(x), float(y)) for j, (x, y) in enumerate(
        zip(rng.uniform(0.0, 1.0, 25), rng.uniform(0.0, 1.0, 25))
    )]
    q = spark.createDataFrame(qpts, "qid long, qx double, qy double")
    got = {
        (r.qid, r.id)
        for r in knn.knn_join(rel, q, k).collect()
    }
    want = set()
    for qid, px, py in qpts:
        dx = np.maximum.reduce([a["xmin"] - px, px - a["xmax"], np.zeros(N)])
        dy = np.maximum.reduce([a["ymin"] - py, py - a["ymax"], np.zeros(N)])
        d2 = dx * dx + dy * dy
        kth = np.sort(d2)[k - 1]
        want |= {(qid, int(i)) for i in a["id"][d2 <= kth]}
    assert got == want


def _h60_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_fuzz_minhash_cc(workload):
    """Fresh-seed text dedup (VERDICT r5 #6): a random corpus with
    PLANTED near-duplicates, engine minhash-LSH pairs vs an exact python
    replica (same shingles → h60 → 16-hash signature → 4 bands →
    candidate ∪ verify pipeline), then connected components vs a python
    union-find over the same pair set."""
    from libspatialindex_spark.operators import dedup

    a, rng, rel = workload
    spark = rel.df.sparkSession
    alpha = "abcdefgh "
    docs = []
    for i in range(60):
        docs.append("".join(alpha[j] for j in rng.integers(0, 9, 120)))
    # plant near-dups: copies with a handful of point edits
    for i in range(20):
        src = docs[int(rng.integers(0, 60))]
        chars = list(src)
        for _ in range(int(rng.integers(1, 5))):
            chars[int(rng.integers(0, len(chars)))] = alpha[int(rng.integers(0, 9))]
        docs.append("".join(chars))
    ddf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        (r.id1, r.id2)
        for r in dedup.minhash_lsh_pairs(
            ddf, k=8, n_hashes=16, bands=4, threshold=0.4, portable=True
        ).collect()
    }
    # exact python replica
    M61 = dedup.MERSENNE61

    def grams(t):
        if len(t) < 8:
            return {t}
        return {t[i:i + 8] for i in range(len(t) - 7)}

    def sig(t):
        hv = [_h60_py(g) for g in sorted(grams(t))]
        return [
            min((h * A + B) % M61 for h in hv)
            for A, B in dedup.MINHASH_PARAMS[:16]
        ]

    sigs = {i: sig(t) for i, t in enumerate(docs)}
    gsets = {i: grams(t) for i, t in enumerate(docs)}
    want = set()
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            share = any(
                sigs[i][b * 4:(b + 1) * 4] == sigs[j][b * 4:(b + 1) * 4]
                for b in range(4)
            )
            if not share:
                continue
            inter = len(gsets[i] & gsets[j])
            union = len(gsets[i] | gsets[j])
            if union and inter / union >= 0.4:
                want.add((i, j))
    assert got == want

    # components: engine CC (driver tier) vs python union-find
    pairs = dedup.minhash_lsh_pairs(
        ddf, k=8, n_hashes=16, bands=4, threshold=0.4, portable=True
    )
    got_cc = {
        (r.doc_id, r.component_id)
        for r in dedup.connected_components(pairs).collect()
    }
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in want:
        parent.setdefault(i, i)
        parent.setdefault(j, j)
        ri, rj = find(i), find(j)
        if ri != rj:
            if rj < ri:
                ri, rj = rj, ri
            parent[rj] = ri
    want_cc = {(x, find(x)) for x in parent}
    assert got_cc == want_cc
