"""Structured-Streaming ingest into the stored spatial index.

The reference's only "stream" is the bulk-load pull iterator
(``IDataStream``, ``SpatialIndex.h:134-139``) — batch, not streaming.
This module goes beyond it: a parquet-directory stream of new entries is
folded into an existing StoredIndex via ``foreachBatch`` → the M1 insert
path (``operators/mutations.insert_batch``).  ``foreachBatch`` alone is
at-least-once (a failed epoch replays); the sink upgrades that to
effective exactly-once by keying each epoch's insert on
``build_id = stream-<epoch>``: a replayed epoch whose build_id already
sits in the manifest is skipped, and an epoch that crashed mid-insert
first sweeps its own debris files (``mutations.insert_batch``
``idempotent=True`` protocol) before re-running.

At scale this is the standing ingestion job: micro-batches append into
bucket dirs; readers always see a manifest-consistent index because the
manifest append is the last step of each batch.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from libspatialindex_spark.operators.index_build import StoredIndex
from libspatialindex_spark.operators.mutations import insert_batch
from libspatialindex_spark.operators.nd import NDBox


def stream_into_index(
    spark: SparkSession,
    source_dir: str,
    idx: StoredIndex,
    schema: str,
    checkpoint_dir: str,
    box: NDBox | None = None,
    trigger_once: bool = False,
    compact_every: int | None = None,
    compact_max_files: int = 8,
) -> StreamingQuery:
    """Start a file-source stream that inserts every micro-batch into
    ``idx``.  ``trigger_once=True`` drains what's present and stops
    (test/backfill mode).

    ``compact_every=N`` folds maintenance into the standing job: every
    N-th epoch, buckets that accumulated more than ``compact_max_files``
    files are merged back into the build layout
    (``mutations.compact`` — crash-safe and physically idempotent, so an
    epoch replay that re-runs the compaction converges; a long-lived
    ingest job otherwise degrades its own read path one small file per
    touched bucket per epoch)."""
    from libspatialindex_spark.operators.mutations import compact

    def sink(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        insert_batch(
            idx,
            batch_df,
            box=box,
            build_id=f"stream-{epoch_id}",
            idempotent=True,
        )
        if compact_every and epoch_id % compact_every == compact_every - 1:
            compact(
                idx, max_files_per_bucket=compact_max_files,
                build_id=f"compact-{epoch_id}",
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
