"""Batch query driver — N window queries as ONE Spark job.

The reference runs its 1000-query workload through a thread pool sharing
one tree (``test/rtree/RTreeParallel.cc:164-215``) — inter-query
parallelism, one traversal per query.  The distributed analog inverts the
loop: the query set becomes a (broadcast) relation, candidate generation is
a cell-keyed equi-join between data and queries, and the exact predicate
runs per (row, query) pair.  1000 windows = one stage, not 1000 jobs —
driver/job fixed costs are paid once, and Catalyst handles the rest.

Output: (qid, id) — which entries each query window hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.functions import geometry as G
from libspatialindex_spark.operators import nd
from libspatialindex_spark.operators.relation import SpatialRelation


def batch_intersects(
    rel: SpatialRelation,
    queries: DataFrame,
    id_col: str = "id",
    join_bits: int = 8,
    broadcast_queries: bool = True,
) -> DataFrame:
    """All (qid, id) pairs with entry MBR ∩ query window ≠ ∅ (closed).

    Queries explode to their covering cells (they are usually small windows
    → a handful of cells each); entries land in cells by their lower-left
    corner EXPANDED by the relation's max extent on the query side — i.e.
    the query boxes are grown by max_extent before cell assignment, so an
    entry's single cell is enough (no data-side explode of fat boxes; the
    exact predicate removes false positives)."""
    axes = rel.conf.axes
    n = 1 << join_bits
    ex, ey = rel.max_extent or (0.0, 0.0)

    q = queries.select("qid", "qxmin", "qymin", "qxmax", "qymax")
    qcells = nd.cells(
        q,
        [F.col("qxmin") - F.lit(ex), F.col("qymin") - F.lit(ey)],
        [F.col("qxmax"), F.col("qymax")],
        axes, n,
    )
    if broadcast_queries:
        qcells = F.broadcast(qcells)

    b = rel.box
    ents = rel.df.withColumn("cell", nd.cell_of(b.lows(), axes, n))
    hit = G.intersects(
        F.col(b.xmin), F.col(b.ymin), F.col(b.xmax), F.col(b.ymax),
        F.col("qxmin"), F.col("qymin"), F.col("qxmax"), F.col("qymax"),
    )
    return (
        ents.join(qcells, on="cell")
        .filter(hit)
        .select("qid", F.col(id_col).alias("id"))
    )
