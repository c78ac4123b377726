"""Time ``insert``, ``delete`` and ``compact`` on every stored layout,
with the Spark jobs each one runs.

The spatial index has the ``index_churn`` shape: 50k random rects
(extent < 1/16) on 16 buckets (``target_partitions=4``), with a file
map (``max_records_per_file`` 2000).  Victims carry their boxes, so they
route without a scan.  The other layouts hold 50k version entries on 16
time buckets, 50k moving points on 64 grid cells (``bits=3``) and 20k
16-d vectors on about 32 inverted lists.  Each round inserts 500 fresh
entries into every layout, deletes 500 random live ones and compacts.
Each step's input frame is created before its clock starts.  After
every round each layout's id set is checked against a pandas model of
its live entries, as are the spatial index's ``validate()`` and every
committed row total (the manifest's, ``temporal.json``'s).  Each round
prints one JSON line with every step's wall time in ms, its job count
and an id-set checksum per layout; the last line holds the per-step
medians over rounds 1.. (round 0 pays first-use costs).

    PYTHONPATH=CHECKOUT python3 scripts/mutation_timing.py [ROUNDS] [SEED]

The engine is imported from ``CHECKOUT`` (the Python workers need it on
``PYTHONPATH`` too), so one copy of this script times any checkout.  For
an A/B, run it for two checkouts alternately with the same seed and
compare the medians; the checksums must agree.
"""

from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time

import numpy as np
import pandas as pd

from libspatialindex_spark.api import Index
from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import ann_index as ai
from libspatialindex_spark.operators import temporal_index as ti
from libspatialindex_spark.session import get_spark

N_RECTS, N_VECS, DIM, BATCH, SCALE = 50_000, 20_000, 16, 500, 1 << 20


def rects(rng: np.random.Generator, n: int, first_id: int) -> pd.DataFrame:
    """Boxes on the 2^-20 lattice, as the benchmark's inputs."""
    x, y = rng.integers(0, SCALE, (2, n))
    w, h = rng.integers(0, 1 << 16, (2, n))
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "xmin": x / SCALE, "ymin": y / SCALE,
        "xmax": (x + w) / SCALE, "ymax": (y + h) / SCALE,
    })


def versions(rng: np.random.Generator, n: int, first_id: int) -> pd.DataFrame:
    """Rects with a validity interval in [0, 1050)."""
    df = rects(rng, n, first_id)
    t0 = rng.uniform(0.0, 1000.0, n)
    return df.assign(tstart=t0, tend=t0 + rng.uniform(1.0, 50.0, n))


def moving(rng: np.random.Generator, n: int, first_id: int) -> pd.DataFrame:
    """Points in the unit square with small velocities."""
    x, y = rng.uniform(0.0, 1.0, (2, n))
    vx, vy = rng.uniform(-1e-3, 1e-3, (2, n))
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "x": x, "y": y, "vx": vx, "vy": vy,
    })


def vectors(rng: np.random.Generator, n: int, first_id: int) -> pd.DataFrame:
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": list(rng.normal(size=(n, DIM))),
    })


class Spatial:
    """The stored spatial index through ``api.Index``."""

    n, rows = N_RECTS, staticmethod(rects)

    def __init__(self, spark, live: pd.DataFrame, path: str):
        self.index = Index.create(
            spark.createDataFrame(live), path,
            EngineConfig(target_partitions=4),
            max_records_per_file=N_RECTS // 25,
        )

    def insert(self, df, build_id):
        self.index.insert(df, build_id=build_id)

    def delete(self, victims):
        self.index.delete(victims)

    def compact(self):
        self.index.compact()

    def ids(self) -> list[int]:
        return [r.id for r in self.index.intersects((0.0, 0.0, 1.0, 1.0)).collect()]

    def committed_rows(self) -> int:
        if not self.index.is_valid():
            raise AssertionError("validate() failed")
        return sum(r["n_rows"] for r in self.index.stored.manifest_rows())


class Temporal:
    """A version or moving index; ``temporal.json`` holds its row total."""

    def __init__(self, spark, live, path):
        self.idx = self.build(spark.createDataFrame(live), path)

    def insert(self, df, build_id):
        self.idx = self.insert_fn(self.idx, df, build_id=build_id)

    def delete(self, victims):
        self.idx = self.delete_fn(self.idx, victims.select("id"))

    def compact(self):
        self.idx = self.compact_fn(self.idx)

    def ids(self) -> list[int]:
        return [r.id for r in self.idx.df().select("id").collect()]

    def committed_rows(self) -> int:
        return self.idx.total_rows()


class Versions(Temporal):
    n, rows = N_RECTS, staticmethod(versions)
    insert_fn = staticmethod(ti.insert_versions)
    delete_fn = staticmethod(ti.delete_versions)
    compact_fn = staticmethod(ti.compact_versions)

    @staticmethod
    def build(df, path):
        return ti.build_version_index(df, path, n_tbuckets=16)


class Moving(Temporal):
    n, rows = N_RECTS, staticmethod(moving)
    insert_fn = staticmethod(ti.insert_moving)
    delete_fn = staticmethod(ti.delete_moving)
    compact_fn = staticmethod(ti.compact_moving)

    @staticmethod
    def build(df, path):
        return ti.build_moving_index(df, path, bits=3)


class Ann:
    """The ANN index; it keeps no row total, so only its id set is
    checked.  Compaction rebuilds the sig projection, as by default."""

    n, rows = N_VECS, staticmethod(vectors)

    def __init__(self, spark, live, path):
        self.idx = ai.build_ann_index(
            spark.createDataFrame(live), path, dim=DIM, stride=N_VECS // 32,
            id_col="id",
        )

    def insert(self, df, build_id):
        self.idx = ai.insert_vectors(self.idx, df, build_id=build_id)

    def delete(self, victims):
        self.idx = ai.delete_vectors(self.idx, victims.select("id"))

    def compact(self):
        self.idx = ai.compact_ann_index(self.idx)

    def ids(self) -> list[int]:
        return [r.id for r in self.idx.df().select("id").collect()]

    def committed_rows(self) -> None:
        return None


LAYOUTS = {"spatial": Spatial, "versions": Versions, "moving": Moving,
           "ann": Ann}


def timed(spark, fn) -> tuple[float, int]:
    """Wall ms of ``fn`` and the Spark jobs it ran (its own job group; a
    marker job in a later group is awaited, since the listener bus is
    asynchronous)."""
    sc = spark.sparkContext
    tag = f"step-{time.monotonic_ns()}"
    sc.setJobGroup(tag, "step")
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        ms = 1e3 * (time.perf_counter() - t0)
        sc.setJobGroup(tag + "-marker", "marker")
        spark.range(1).count()
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(tag + "-marker"):
        if time.monotonic() > deadline:
            raise RuntimeError("marker job never reported")
        time.sleep(0.05)
    return ms, len(tracker.getJobIdsForGroup(tag))


def check(layout, live: pd.DataFrame) -> int:
    """Raise unless ``layout`` holds exactly ``live``; return a checksum."""
    got, want = sorted(layout.ids()), sorted(live.id.tolist())
    if got != want:
        raise AssertionError(f"id set differs: {len(got)} rows vs {len(want)}")
    total = layout.committed_rows()
    if total is not None and total != len(live):
        raise AssertionError(f"commit record holds {total} rows, index {len(live)}")
    return int(np.bitwise_xor.reduce(live.id.to_numpy() * 2654435761 % (1 << 31)))


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = get_spark("mutation-timing", cores=4)
    rng = np.random.default_rng(seed)
    with tempfile.TemporaryDirectory() as d:
        state = {}
        for name, cls in LAYOUTS.items():
            live = cls.rows(rng, cls.n, 0)
            layout = cls(spark, live, f"{d}/{name}")
            check(layout, live)
            state[name] = [layout, live, cls.n]
        out = []
        for r in range(rounds):
            rec = {"round": r}
            for name, st in state.items():
                layout, live, next_id = st
                batch = layout.rows(rng, BATCH, next_id)
                ins = spark.createDataFrame(batch)
                rec[f"{name}_insert_ms"], rec[f"{name}_insert_jobs"] = timed(
                    spark, lambda: layout.insert(ins, f"ins-{r}"))
                live = pd.concat([live, batch], ignore_index=True)
                gone = rng.choice(live.id.to_numpy(), BATCH, replace=False)
                victims = spark.createDataFrame(live[live.id.isin(gone)])
                rec[f"{name}_delete_ms"], rec[f"{name}_delete_jobs"] = timed(
                    spark, lambda: layout.delete(victims))
                live = live[~live.id.isin(gone)].reset_index(drop=True)
                rec[f"{name}_compact_ms"], rec[f"{name}_compact_jobs"] = timed(
                    spark, layout.compact)
                rec[f"{name}_checksum"] = check(layout, live)
                st[1:] = [live, next_id + BATCH]
            print(json.dumps(rec), flush=True)
            out.append(rec)
    steady = out[1:] or out
    print(json.dumps({
        f"median_{k}": statistics.median(o[k] for o in steady)
        for k in out[0] if k.endswith(("_ms", "_jobs"))
    }), flush=True)


if __name__ == "__main__":
    main()
