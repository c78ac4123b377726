"""Per-partition packed index nodes inside Arrow UDFs — the local level of
the two-level scheme (north rule: "per-partition packed R*-tree nodes built
inside vectorized Arrow UDFs").

Within a bucket, rows arrive Z-sorted (the build's
``sortWithinPartitions(z)``), so consecutive runs of ``capacity`` rows are
exactly the leaves an STR packer would produce (``src/rtree/
BulkLoader.cc:455-521`` packs sorted runs into nodes the same way).  The
Arrow batch is the "page": node MBRs are ``np.minimum/maximum.reduceat``
over the run boundaries, and a query batch prunes node-first, row-second —
all numpy, no per-row Python.

This pays off when MANY queries hit each partition: the node level costs
O(rows/capacity) per query instead of O(rows), amortizing exactly like the
reference's in-tree pruning.  For single queries the JVM zone-map path
(`SpatialRelation.pruned_for_box`) is preferred; this operator is the batch
workhorse.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from libspatialindex_spark.operators.relation import SpatialRelation


def pack_nodes(
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray,
    capacity: int = 256,
):
    """STR-style leaf packing over (assumed curve-sorted) rows: returns
    (starts, node_xmin, node_ymin, node_xmax, node_ymax)."""
    n = len(xmin)
    starts = np.arange(0, n, capacity)
    return (
        starts,
        np.minimum.reduceat(xmin, starts),
        np.minimum.reduceat(ymin, starts),
        np.maximum.reduceat(xmax, starts),
        np.maximum.reduceat(ymax, starts),
    )


def query_packed(
    ids: np.ndarray,
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray,
    queries: np.ndarray,  # (nq, 5): qid, qxmin, qymin, qxmax, qymax
    capacity: int = 256,
):
    """Evaluate a query batch against one packed page.  Returns
    (qid_out, id_out) arrays — closed-interval intersection semantics."""
    n = len(ids)
    if n == 0 or len(queries) == 0:
        return np.empty(0, np.int64), np.empty(0, ids.dtype)
    starts, nx0, ny0, nx1, ny1 = pack_nodes(xmin, ymin, xmax, ymax, capacity)
    ends = np.append(starts[1:], n)
    out_q, out_i = [], []
    for qid, qx0, qy0, qx1, qy1 in queries:
        # node-level prune (the index-node visit)
        nhit = ~((nx0 > qx1) | (nx1 < qx0) | (ny0 > qy1) | (ny1 < qy0))
        if not nhit.any():
            continue
        # row-level exact test inside surviving nodes only
        rows = np.concatenate(
            [np.arange(s, e) for s, e in zip(starts[nhit], ends[nhit])]
        )
        rx0, ry0 = xmin[rows], ymin[rows]
        rx1, ry1 = xmax[rows], ymax[rows]
        hit = ~((rx0 > qx1) | (rx1 < qx0) | (ry0 > qy1) | (ry1 < qy0))
        sel = rows[hit]
        if len(sel):
            out_q.append(np.full(len(sel), int(qid), np.int64))
            out_i.append(ids[sel])
    if not out_q:
        return np.empty(0, np.int64), np.empty(0, ids.dtype)
    return np.concatenate(out_q), np.concatenate(out_i)


def local_batch_intersects(
    rel: SpatialRelation,
    windows,  # pandas DataFrame (qid, qxmin, qymin, qxmax, qymax) or list
    id_col: str = "id",
    capacity: int = 256,
) -> DataFrame:
    """Run a window-query batch through per-partition packed nodes.

    ``windows`` is driver-side (the query workload is small next to data —
    it ships in the task closure, the moral equivalent of a broadcast).
    Partition-level pruning still applies first when ``rel`` is a stored
    relation: we pre-filter with the union MBR of the workload."""
    if isinstance(windows, pd.DataFrame):
        qarr = windows[["qid", "qxmin", "qymin", "qxmax", "qymax"]].to_numpy(
            dtype=np.float64
        )
    else:
        qarr = np.asarray(windows, dtype=np.float64)
    b = rel.box
    # bucket-level prune with the workload's union MBR
    ux0, uy0 = float(qarr[:, 1].min()), float(qarr[:, 2].min())
    ux1, uy1 = float(qarr[:, 3].max()), float(qarr[:, 4].max())
    src = rel.pruned_for_box(ux0, uy0, ux1, uy1).select(
        id_col, b.xmin, b.ymin, b.xmax, b.ymax
    )

    def work(batches):
        for pdf in batches:
            qids, ids = query_packed(
                pdf[id_col].to_numpy(),
                pdf[b.xmin].to_numpy(np.float64),
                pdf[b.ymin].to_numpy(np.float64),
                pdf[b.xmax].to_numpy(np.float64),
                pdf[b.ymax].to_numpy(np.float64),
                qarr,
                capacity,
            )
            yield pd.DataFrame({"qid": qids, "id": ids})

    return src.mapInPandas(work, "qid long, id long")
