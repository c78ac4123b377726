"""Time ``insert``, ``delete`` and ``compact`` on a stored index of the
``index_churn`` shape, with the Spark jobs each one runs.

The index holds 50k random rects (extent < 1/16) on 16 buckets
(``target_partitions=4``), with a file map (``max_records_per_file``
2000).  Each round inserts 500 fresh rects, deletes 500 random live
entries (victims carry their boxes, so they route without a scan) and
compacts.  Each step's input frame is created before its clock starts.
After every round the index's id set, ``validate()`` and the manifest's
row total are checked against a pandas model of the live entries.  Each
round prints one JSON line with every step's wall time in ms, its job
count and an id-set checksum; the last line holds the per-step medians
over rounds 1.. (round 0 pays first-use costs).

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
from libspatialindex_spark.session import get_spark

N_RECTS, BATCH, SCALE = 50_000, 500, 1 << 20


def rects(rng: np.random.Generator, n: int, first_id: int) -> pd.DataFrame:
    """Boxes on the 2^-20 lattice, as the benchmark's inputs."""
    x, y = rng.integers(0, SCALE, (2, n))
    w, h = rng.integers(0, 1 << 16, (2, n))
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "xmin": x / SCALE, "ymin": y / SCALE,
        "xmax": (x + w) / SCALE, "ymax": (y + h) / SCALE,
    })


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


def check(index: Index, live: pd.DataFrame) -> int:
    """Raise unless the index holds exactly ``live``; return a checksum."""
    got = sorted(r.id for r in index.intersects((0.0, 0.0, 1.0, 1.0)).collect())
    want = sorted(live.id.tolist())
    if got != want:
        raise AssertionError(f"id set differs: {len(got)} rows vs {len(want)}")
    if not index.is_valid():
        raise AssertionError("validate() failed")
    total = sum(r["n_rows"] for r in index.stored.manifest_rows())
    if total != len(live):
        raise AssertionError(f"manifest holds {total} rows, index {len(live)}")
    return int(np.bitwise_xor.reduce(live.id.to_numpy() * 2654435761 % (1 << 31)))


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = get_spark("mutation-timing", cores=4)
    rng = np.random.default_rng(seed)
    live = rects(rng, N_RECTS, 0)
    next_id = N_RECTS
    with tempfile.TemporaryDirectory() as d:
        index = Index.create(
            spark.createDataFrame(live), f"{d}/idx",
            EngineConfig(target_partitions=4),
            max_records_per_file=N_RECTS // 25,
        )
        check(index, live)
        out = []
        for r in range(rounds):
            batch = rects(rng, BATCH, next_id)
            next_id += BATCH
            ins = spark.createDataFrame(batch)
            rec = {"round": r}
            rec["insert_ms"], rec["insert_jobs"] = timed(
                spark, lambda: index.insert(ins, build_id=f"ins-{r}"))
            live = pd.concat([live, batch], ignore_index=True)
            gone = rng.choice(live.id.to_numpy(), BATCH, replace=False)
            victims = spark.createDataFrame(live[live.id.isin(gone)])
            rec["delete_ms"], rec["delete_jobs"] = timed(
                spark, lambda: index.delete(victims))
            live = live[~live.id.isin(gone)].reset_index(drop=True)
            rec["compact_ms"], rec["compact_jobs"] = timed(spark, index.compact)
            rec["rows"], rec["checksum"] = len(live), check(index, live)
            print(json.dumps(rec), flush=True)
            out.append(rec)
    steady = out[1:] or out
    print(json.dumps({
        f"median_{k}": statistics.median(o[k] for o in steady)
        for k in ("insert_ms", "delete_ms", "compact_ms",
                  "insert_jobs", "delete_jobs", "compact_jobs")
    }), flush=True)


if __name__ == "__main__":
    main()
