"""Mutations on a stored index — M1 insert / M2 delete (SURVEY.md §2.2).

Reference semantics: ``insertData`` descends the tree, splits/reinserts on
overflow (``src/rtree/RTree.cc:578-597``, ``Node.cc:288-478``);
``deleteData`` finds the exact (mbr, id) leaf entry and condenses
(``RTree.cc:599-608``).  In the distributed layout, tree maintenance
disappears: an insert is an append into the right bucket directories; a
delete is an anti-join rewrite of only the buckets that contain the
victims.  Both update the manifest so lineage/validity stay consistent.

Every mutation commits on the driver, with no Spark job after its data
write: the touched buckets' manifest rows come from the written files'
parquet footers (``StoredLayout.footer_manifest``) and the manifest is
written with pyarrow.  The max entry extents are upper bounds: an insert
records its batch max, observed on the data write, on each of its bucket
rows; a delete or compaction carries each touched bucket's prior max
forward (see ``plans/manifest.py``).

Crash-safety protocol (single writer assumed — the reference is likewise
single-writer per tree):

* **insert** stages the batch under ``_staging_insert_<build_id>``, moves
  the staged files into live bucket dirs under build_id-prefixed names,
  then appends a manifest file (written under a hidden name and renamed
  in).  That rename is the commit point; a replay of the same
  ``build_id`` (streaming epoch redelivery) first checks the manifest —
  committed epochs are skipped — and otherwise sweeps any
  ``<build_id>-*`` debris before re-running, so the insert is idempotent.
* **delete** rewrites each touched bucket via rename-aside
  (``bucket=N`` → ``bucket=N.old`` → staged in), commits the manifest,
  and only then drops the ``.old`` copies: every crash point — including
  an all-deleted bucket before the manifest commit — leaves either the old
  or the new data present, and :func:`recover` rolls an interrupted swap
  forward/back.  The manifest is replaced by the same aside/rename dance,
  never ``rmtree``-then-write.

All driver-side file ops go through ``plans/fs`` so the index can live on
any Hadoop filesystem, not just local disk.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.plans import fs as FS
from libspatialindex_spark.plans import manifest as M


def _safe(build_id: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", build_id)


def _invalidate_file_map(idx) -> None:
    """Drop the per-file zone map + learned models after a mutation —
    a stale file map would silently exclude newly-inserted files from
    pruned scans.  Rebuild with ``index_build.refresh_file_map``."""
    fs = idx.fs
    fs.delete(idx.filemap_path)
    fs.delete(FS.join(idx.path, "zm_models.json"))


def committed_build_ids(idx) -> set[str]:
    rows = M.read_rows(idx.fs, idx.manifest_path)
    return {r["build_id"] for r in rows or []}


def _read_buckets(idx, buckets) -> DataFrame:
    """Only the ``bucket=N`` data dirs of ``buckets``, read with the
    index's data schema: no inference job, and the ``.old`` asides of a
    swap in flight are never listed."""
    root = idx.data_path
    return (
        idx.spark.read.schema(idx.data_schema())
        .option("basePath", root)
        .parquet(*[FS.join(root, f"bucket={b}") for b in buckets])
    )


def _sweep_build(fs, data_path: str, tag: str) -> None:
    """Remove files from an uncommitted attempt of ``tag`` (crash debris)."""
    for bname in fs.listdir(data_path):
        if not bname.startswith("bucket="):
            continue
        bdir = FS.join(data_path, bname)
        for fname in fs.listdir(bdir):
            if fname.startswith(f"{tag}-"):
                fs.delete(FS.join(bdir, fname))


def insert_batch(
    idx,
    rows: DataFrame,
    box=None,
    build_id: str = "insert",
    idempotent: bool = False,
):
    """M1 — append a batch of entries; only touched buckets change.
    ``box`` defaults to the index's.

    With ``idempotent=True`` a ``build_id`` already present in the manifest
    is a no-op (exactly-once under streaming epoch replay)."""
    fs = idx.fs
    tag = _safe(build_id)

    if idempotent:
        if build_id in committed_build_ids(idx):
            return idx  # epoch already committed — replay is a no-op
        _sweep_build(fs, idx.data_path, tag)

    staging = FS.join(idx.path, f"_staging_insert_{tag}")
    fs.delete(staging)

    box = box or idx.box
    keyed, extent = M.observe_extent(idx.keyed(rows, box), box.dims)
    (
        keyed.repartitionByRange(idx.conf.target_partitions, "z")
        # (bucket, z): keeps the writer from inserting its own partition
        # sort, which would let EliminateSorts drop the z order (see
        # index_build.bulk_load note)
        .sortWithinPartitions("bucket", "z")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(staging)
    )
    buckets = [
        int(n[len("bucket="):]) for n in fs.listdir(staging)
        if n.startswith("bucket=")
    ]
    ext = dict.fromkeys(buckets, extent() if buckets else None)
    mrows = idx.footer_manifest(staging, buckets, ext, build_id)

    # Move staged files into live bucket dirs under build_id-prefixed names
    # (sweepable on replay).  Readers may observe rows before the manifest
    # commit — same single-writer caveat as the reference's dirty pages.
    for b in buckets:
        src_dir = FS.join(staging, f"bucket={b}")
        dst_dir = FS.join(idx.data_path, f"bucket={b}")
        fs.mkdirs(dst_dir)
        for fname in M.parquet_files(fs, src_dir):
            fs.rename(
                FS.join(src_dir, fname), FS.join(dst_dir, f"{tag}-{fname}")
            )
    fs.delete(staging)

    # Commit point: manifest append.  The file map goes stale FIRST
    # (fail-safe: losing it only loses the refinement; keeping a stale one
    # would lose rows from pruned scans).
    _invalidate_file_map(idx)
    if mrows:
        idx.append_manifest(mrows)
    return idx


def recover(idx) -> None:
    """Roll interrupted bucket/manifest swaps forward or back —
    CONSISTENTLY with the manifest (the commit record).

    1. Settle the manifest swap first (``manifest.old`` restored when no
       live manifest exists, dropped otherwise; ``manifest.new`` debris
       removed) — after this the manifest is either pre- or post-commit,
       never mid-swap.
    2. For every ``bucket=N.old`` aside: roll FORWARD (drop the aside) iff
       the settled manifest's row count for N matches the live dir (the
       mutation committed — the aside is post-commit debris); otherwise
       roll BACK (restore the aside over whatever partial rewrite the
       crash left).  A pre-commit crash therefore restores the exact
       pre-mutation state everywhere — including buckets whose rewrite had
       finished and all-deleted buckets with no live dir — and the
       interrupted mutation can simply be re-run.

    The row-count probe reads only the touched buckets' parquet footers
    (``num_rows``), on the driver — no Spark job.
    """
    fs = idx.fs
    mpath = idx.manifest_path
    if fs.isdir(mpath + ".old"):
        if fs.isdir(mpath):
            fs.delete(mpath + ".old")
        else:
            fs.rename(mpath + ".old", mpath)
    fs.delete(mpath + ".new")

    asides = [
        name
        for name in fs.listdir(idx.data_path)
        if name.startswith("bucket=") and name.endswith(".old")
    ]
    if not asides:
        return
    m = M.read_rows(fs, mpath)
    counts = {r["bucket"]: r["n_rows"] for r in M.rollup(m or [])}
    for name in asides:
        aside = FS.join(idx.data_path, name)
        live = FS.join(idx.data_path, name[: -len(".old")])
        b = int(name[len("bucket="): -len(".old")])
        live_rows = sum(
            M.footer(fs, FS.join(live, f)).num_rows
            for f in M.parquet_files(fs, live)
        )
        if m is not None and live_rows == counts.get(b, 0):
            fs.delete(aside)  # forward: manifest already describes live
        else:
            fs.delete(live)  # back: restore the pre-mutation copy
            fs.rename(aside, live)


def _replace_manifest(idx, rows: list[dict]) -> None:
    """Atomically replace the manifest with ``rows`` (write new → aside →
    swap → drop)."""
    fs = idx.fs
    mpath = idx.manifest_path
    fs.delete(mpath + ".new")
    M.write_table(
        fs, FS.join(mpath + ".new", M.part_name()), rows, M.MANIFEST_SCHEMA
    )
    if fs.isdir(mpath):
        fs.rename(mpath, mpath + ".old")
    fs.rename(mpath + ".new", mpath)
    fs.delete(mpath + ".old")


def _swap_and_commit(idx, staged: str, touched: list, build_id: str) -> None:
    """Swap the staged rewrite of the ``touched`` buckets in and commit.

    Per bucket: aside → move in.  The ``.old`` aside copies are NOT
    deleted here — they survive until after the manifest commit, so every
    crash point leaves old or new data present for EVERY bucket (including
    the all-deleted case, whose bucket has no new dir): before the
    manifest commit, recover() can restore the aside consistently with the
    still-old manifest; after it, recover() just drops asides.

    Commit: drop the touched buckets' manifest rows and add one row per
    touched bucket that still has data, from its new files' footers, with
    the bucket's prior max extents carried forward (a rewrite only removes
    or keeps rows, so they stay upper bounds) — then an atomic manifest
    swap.  The stale file map goes first: it must never survive."""
    fs = idx.fs
    for b in touched:
        live = FS.join(idx.data_path, f"bucket={b}")
        old = FS.join(idx.data_path, f"bucket={b}.old")
        fs.delete(old)  # stale aside from pre-recover() eras only
        src = FS.join(staged, f"bucket={b}")
        if fs.isdir(live):
            fs.rename(live, old)
        if M.parquet_files(fs, src):
            fs.rename(src, live)
    fs.delete(staged)

    rows = idx.manifest_rows()
    prior = {
        r["bucket"]: r["max_ext"]
        for r in M.rollup(rows, maxs=("max_ext",), sums=())
    }
    keep = [r for r in rows if r["bucket"] not in touched]
    fresh = idx.footer_manifest(idx.data_path, touched, prior, build_id)
    _invalidate_file_map(idx)
    _replace_manifest(idx, keep + fresh)
    # Only now — past the commit point — drop the aside copies.  A crash in
    # this window leaves harmless ``.old`` debris that recover() sweeps.
    for b in touched:
        fs.delete(FS.join(idx.data_path, f"bucket={b}.old"))


def delete_rows(
    idx,
    victims: DataFrame,
    id_col: str = "id",
    box=None,
    build_id: str = "delete",
):
    """M2 — remove entries by id; rewrites ONLY buckets holding victims.

    ``victims`` must carry the id column (and box columns if available, to
    route directly; otherwise victim buckets are discovered by semi-join).
    """
    fs = idx.fs
    box = box or idx.box
    recover(idx)  # finish any interrupted earlier swap first

    if set(victims.columns) >= {c for pair in box.dims for c in pair}:
        vb = idx.keyed(victims, box).select(id_col, "bucket")
    else:
        vb = idx.data().join(
            victims.select(id_col), on=id_col, how="left_semi"
        ).select(id_col, "bucket")
    touched = [r["bucket"] for r in vb.select("bucket").distinct().collect()]
    if not touched:
        return idx

    # Rewrite each touched bucket without the victims (anti-join), staged
    # next to the live dirs.
    staged = FS.join(idx.path, "_staging_delete")
    fs.delete(staged)
    survivors = _read_buckets(idx, touched).join(
        victims.select(id_col), on=id_col, how="left_anti"
    )
    # (bucket, z) sort: rewritten buckets keep the build's in-file z
    # clustering (plain unsorted staging silently degraded row-group zone
    # maps for every deleted-from bucket — the EliminateSorts class of
    # regression, caught in r5)
    survivors.sortWithinPartitions("bucket", "z").write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(staged)

    _swap_and_commit(idx, staged, touched, build_id)
    return idx


def compact(
    idx,
    max_files_per_bucket: int = 1,
    max_records_per_file: int | None = None,
    build_id: str = "compact",
):
    """M3 maintenance — merge each bucket's accumulated insert files back
    into few z-sorted files (the reorganization the reference performs
    inside ``flush``/node rewrites, ``src/rtree/RTree.cc`` M3 surface).

    Every ``insert_batch`` appends ≥1 file per touched bucket, so a
    long-lived index accumulates small files whose listing + footer reads
    eventually dominate scans — the classic 100-TB landmine.  Compaction
    rewrites only buckets holding more than ``max_files_per_bucket``
    parquet files, restoring the build-time layout: one task per bucket,
    ``(bucket, z)``-sorted files (the sort spelling that survives
    ``EliminateSorts`` under a partitioned write), optionally re-split by
    ``max_records_per_file`` for file-map granularity.

    Crash-safety is ``delete_rows``' discipline verbatim: staged rewrite →
    per-bucket ``.old`` aside swap → atomic manifest replace → asides
    dropped post-commit; :func:`recover` rolls any torn state to a
    consistent pre- or post-compaction snapshot.  Row sets are identical
    before and after — only physical file count and in-file order change.
    """
    fs = idx.fs
    recover(idx)

    touched = [
        b for b in idx.live_buckets()
        if len(M.parquet_files(fs, FS.join(idx.data_path, f"bucket={b}")))
        > max_files_per_bucket
    ]
    if not touched:
        return idx

    staged = FS.join(idx.path, "_staging_compact")
    fs.delete(staged)
    data = _read_buckets(idx, touched)
    writer = (
        data.repartition(len(touched), F.col("bucket"))
        .sortWithinPartitions("bucket", "z")
        .write.partitionBy("bucket")
        .mode("overwrite")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(staged)

    # Touched buckets collapse to ONE fresh manifest row each (insert had
    # appended one row per batch).
    _swap_and_commit(idx, staged, touched, build_id)
    return idx
