"""Index statistics and query-latency instrumentation — A3/A4 (SURVEY §2.5).

A3 mirrors ``IStatistics`` (``SpatialIndex.h:183-191`` /
``src/rtree/Statistics.cc:41-50``): reads/writes/splits become bucket and
manifest counters; tree height is structurally 2 (global manifest level +
bucket leaves); utilization is rows-per-bucket balance (the skew metric).

A4 mirrors the reference driver's latency report
(``test/rtree/RTreeQuery.cc:354-414``): per-query wall times → mean /
variance / stddev + P1..P100 percentiles, computed with
``percentile_approx`` when aggregated in Spark or numpy when driver-side.

Per-query IO accounting (``RTreeQuery.cc:68-115,344-349`` — the visitor's
index-read vs leaf-read split) maps to the two pruning levels of this
engine: **buckets scanned vs total** (index-node reads saved by the
driver's manifest descent) and **rows scanned vs returned** (leaf entries
touched vs emitted), the latter counted in-flight by ``Observation``
metrics on the running plan — no second job.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from libspatialindex_spark.functions import geometry as G
from libspatialindex_spark.operators.index_build import StoredIndex


def index_statistics(idx: StoredIndex) -> dict:
    """Structural stats of a stored index (Statistics.cc analog), from
    the manifest roll-up on the driver."""
    m = idx.manifest_totals_rows()
    rows = np.array([r["n_rows"] for r in m], dtype=np.float64)
    return {
        "tree_height": 2,  # driver manifest level + bucket leaves
        "n_index_entries": int(len(m)),  # "index nodes" = buckets
        "n_data_rows": int(rows.sum()),
        "bucket_rows_min": int(rows.min()),
        "bucket_rows_p50": float(np.percentile(rows, 50)),
        "bucket_rows_max": int(rows.max()),
        "skew_max_over_median": float(
            rows.max() / max(np.percentile(rows, 50), 1.0)
        ),
        "utilization": float(rows.mean() / rows.max()) if rows.max() else 1.0,
        "world_bounds": idx.bounds(),  # per-axis lows, then highs
    }


def observed_query(rel, qxmin, qymin, qxmax, qymax, predicate="intersects"):
    """Range/containment/point query with in-flight IO accounting (A4
    completion — the reference visitor's index-vs-leaf counters,
    ``RTreeQuery.cc:68-115,344-349``).

    Returns ``(result_df, io)`` where ``io()`` — valid after the caller
    runs an action on the result — yields:

    * ``buckets_total`` / ``buckets_scanned`` — manifest-level pruning
      (index-node reads avoided);
    * ``rows_scanned`` — entries surviving the prune that the exact
      predicate had to touch (leaf reads);
    * ``rows_returned`` — emitted entries (visitData calls).
    """
    scan_obs = Observation()
    out_obs = Observation()
    b = rel.box
    lows = (F.col(b.xmin), F.col(b.ymin))
    highs = (F.col(b.xmax), F.col(b.ymax))
    if predicate == "intersects":
        pred = G.intersects(
            lows[0], lows[1], highs[0], highs[1], qxmin, qymin, qxmax, qymax
        )
    elif predicate == "contains":  # query ⊇ entry (containsWhat)
        pred = G.contains(
            qxmin, qymin, qxmax, qymax, lows[0], lows[1], highs[0], highs[1]
        )
    elif predicate == "point":  # entry contains the point (qxmin, qymin)
        pred = G.contains_point(
            lows[0], lows[1], highs[0], highs[1], qxmin, qymin
        )
    else:
        raise ValueError(predicate)
    pruned = rel.pruned_for_box(qxmin, qymin, qxmax, qymax).observe(
        scan_obs, F.count(F.lit(1)).alias("rows_scanned")
    )
    out = pruned.filter(pred).observe(
        out_obs, F.count(F.lit(1)).alias("rows_returned")
    )

    hit = rel.box_plan([qxmin, qymin], [qxmax, qymax])[0]

    def io() -> dict:
        return {
            "buckets_total": len(rel.bucket_boxes) or None,
            "buckets_scanned": len(hit) if hit is not None else None,
            # files the pruned plan can touch AFTER partition pruning
            "files_planned": rel.files_planned_for_box(qxmin, qymin, qxmax, qymax),
            "rows_scanned": scan_obs.get["rows_scanned"],
            "rows_returned": out_obs.get["rows_returned"],
        }

    return out, io


def observed_intersects_query(rel, qxmin, qymin, qxmax, qymax):
    """Intersection-predicate shorthand for :func:`observed_query`."""
    return observed_query(rel, qxmin, qymin, qxmax, qymax, "intersects")


@dataclass
class LatencyRecorder:
    """Per-query latency collection → the reference's percentile report,
    optionally with the per-query IO counters alongside."""

    samples: list[tuple[str, float, int, dict | None]] = field(
        default_factory=list
    )

    def timed(self, name: str, df) -> int:
        t0 = time.time()
        n = df.count()
        self.samples.append((name, time.time() - t0, n, None))
        return n

    def timed_observed(self, name: str, rel, window) -> dict:
        """Run an instrumented range query; record latency + IO split."""
        df, io = observed_query(rel, *window)
        t0 = time.time()
        df.count()
        sec = time.time() - t0
        stats = io()
        self.samples.append((name, sec, stats["rows_returned"], stats))
        return stats

    def report(self) -> pd.DataFrame:
        pdf = pd.DataFrame(
            [
                {
                    "query": q,
                    "sec": s,
                    "rows": n,
                    **{k: (io or {}).get(k) for k in (
                        "buckets_total", "buckets_scanned",
                        "rows_scanned", "rows_returned",
                    )},
                }
                for q, s, n, io in self.samples
            ]
        )
        return pdf

    def percentiles(self) -> dict:
        lat = np.array([s for _, s, _, _ in self.samples], dtype=np.float64)
        if len(lat) == 0:
            return {}
        out = {
            "n": len(lat),
            "mean_sec": float(lat.mean()),
            "var_sec": float(lat.var()),
            "stddev_sec": float(lat.std()),
        }
        for p in (1, 25, 50, 75, 90, 99, 100):
            out[f"p{p}_sec"] = float(np.percentile(lat, p))
        return out


def latency_percentiles_spark(df, value_col: str = "sec"):
    """Spark-side percentile aggregation for large timing tables."""
    pcts = [0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    return df.agg(
        F.mean(value_col).alias("mean_sec"),
        F.variance(value_col).alias("var_sec"),
        F.stddev(value_col).alias("stddev_sec"),
        F.percentile_approx(value_col, pcts).alias("percentiles"),
    )
