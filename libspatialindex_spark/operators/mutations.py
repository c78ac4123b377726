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

The protocol exists once, for every stored layout, as the reference's
one ``IStorageManager`` serves its R-, MVR- and TPR-trees alike
(``SpatialIndex.h:156-164``): the spatial, version, moving and ANN
indexes are ``manifest.StoredLayout`` handles whose data roots hold one
``{part}=N`` dir per bucket, and all of them stage, move in, swap aside,
settle and pick compaction buckets through the functions below.  A
layout supplies only its commit record and the test :func:`settle` asks
of it: the spatial index's parquet manifest, the temporal layouts'
``temporal.json`` envelopes (``operators/temporal_index.py``), none for
the ANN lists (``operators/ann_index.py``).

All driver-side file ops go through ``plans/fs`` so the index can live on
any Hadoop filesystem, not just local disk.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.plans import fs as FS
from libspatialindex_spark.plans import manifest as M


def tag(build_id: str) -> str:
    """``build_id`` sanitized for use in file and dir names."""
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


# --------------------------------------------- the bucket-dir protocol --
#
# Every stored layout (spatial, version, moving, ANN) is a
# ``manifest.StoredLayout``: a data root of ``{part}=N`` bucket dirs.  Its
# writes share the steps below; each layout adds only its commit record.


def staging(idx, name: str) -> str:
    """A fresh staging dir ``_staging_<name>`` next to the data root."""
    path = FS.join(idx.path, f"_staging_{name}")
    idx.fs.delete(path)
    return path


def read_buckets(idx, buckets) -> DataFrame:
    """Only the live dirs of ``buckets``, read with the layout's data
    schema: no inference job, and the ``.old`` asides of a swap in flight
    are never listed."""
    return (
        idx.spark.read.schema(idx.data_schema())
        .option("basePath", idx.data_path)
        .parquet(*[idx.bucket_dir(b) for b in buckets])
    )


def victim_buckets(idx, ids: DataFrame, id_col: str) -> list[int]:
    """Live buckets holding any id of ``ids``, by a semi-join."""
    hit = idx.data().join(ids, on=id_col, how="left_semi")
    return [int(r[0]) for r in hit.select(idx.part).distinct().collect()]


def live_rows(idx, b: int) -> int:
    """Rows in bucket ``b``'s live dir, from its files' footers (tail
    reads on the driver, no Spark job)."""
    d = idx.bucket_dir(b)
    return sum(
        M.footer(idx.fs, FS.join(d, f)).num_rows
        for f in M.parquet_files(idx.fs, d)
    )


def sweep_build(idx, build_tag: str) -> None:
    """Remove the files of an uncommitted attempt of ``build_tag`` (crash
    debris of :func:`move_in`)."""
    fs = idx.fs
    for b in idx.live_buckets():
        d = idx.bucket_dir(b)
        for fname in fs.listdir(d):
            if fname.startswith(f"{build_tag}-"):
                fs.delete(FS.join(d, fname))


def move_in(idx, staged: str, build_tag: str) -> list[int]:
    """Move the staged files of an insert into the live bucket dirs under
    ``build_tag``-prefixed names (sweepable on replay) and drop the
    staging dir; returns the buckets that took files.  Readers may observe
    rows before the commit that follows — the same single-writer caveat
    as the reference's dirty pages."""
    fs = idx.fs
    buckets = idx.buckets_under(staged)
    for b in buckets:
        src, dst = idx.bucket_dir(b, staged), idx.bucket_dir(b)
        fs.mkdirs(dst)
        for fname in M.parquet_files(fs, src):
            dst_name = f"{build_tag}-{fname}"
            fs.rename(FS.join(src, fname), FS.join(dst, dst_name))
    fs.delete(staged)
    return buckets


def rewrite(idx, touched: list, name: str, write, commit) -> None:
    """Replace the ``touched`` buckets with a staged rewrite: ``write``
    writes it partitioned by the layout's column under the staging dir it
    is given; ``commit(touched)`` then writes the layout's commit record.

    Per bucket: aside → move in.  The ``.old`` aside copies are NOT
    deleted before the commit, so every crash point leaves old or new
    data present for EVERY bucket (including an all-deleted one, whose
    rewrite has no dir): before the commit, :func:`settle` restores the
    aside consistently with the old record; after it, :func:`settle` just
    drops asides."""
    fs = idx.fs
    staged = staging(idx, name)
    write(staged)
    for b in touched:
        live, old = idx.bucket_dir(b), idx.bucket_dir(b) + ".old"
        fs.delete(old)  # stale aside from pre-recovery eras only
        src = idx.bucket_dir(b, staged)
        if fs.isdir(live):
            fs.rename(live, old)
        if M.parquet_files(fs, src):
            fs.rename(src, live)
    fs.delete(staged)
    commit(touched)
    # Only now — past the commit point — drop the aside copies.  A crash in
    # this window leaves harmless ``.old`` debris that settle() sweeps.
    for b in touched:
        fs.delete(idx.bucket_dir(b) + ".old")


def settle(idx, committed) -> None:
    """Roll every ``.old`` aside FORWARD (drop it) when ``committed(b)``
    says the layout's commit record already describes bucket ``b``'s live
    dir, otherwise BACK (restore the aside over whatever partial rewrite
    the crash left)."""
    fs = idx.fs
    for b in idx.aside_buckets():
        live = idx.bucket_dir(b)
        if committed(b):
            fs.delete(live + ".old")
        else:
            fs.delete(live)
            fs.rename(live + ".old", live)


def check_settled(idx, recover: str) -> None:
    """Refuse a layout whose data root holds ``.old`` asides (see
    ``StoredLayout.aside_buckets``); ``recover`` names the function that
    settles them."""
    asides = idx.aside_buckets()
    if asides:
        raise RuntimeError(
            f"interrupted delete or compaction under {idx.path} (asides of "
            f"buckets {asides[:3]}…) — run {recover}() before reading"
        )


def compaction_buckets(idx, max_files: int) -> list[int]:
    """Live buckets holding more than ``max_files`` data files."""
    return [
        b for b in idx.live_buckets()
        if len(M.parquet_files(idx.fs, idx.bucket_dir(b))) > max_files
    ]


# ------------------------------------------------------- spatial index --


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
    btag = tag(build_id)
    if idempotent:
        if build_id in committed_build_ids(idx):
            return idx  # epoch already committed — replay is a no-op
        sweep_build(idx, btag)

    staged = staging(idx, f"insert_{btag}")
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
        .parquet(staged)
    )
    buckets = idx.buckets_under(staged)
    ext = dict.fromkeys(buckets, extent() if buckets else None)
    mrows = idx.footer_manifest(staged, buckets, ext, build_id)
    move_in(idx, staged, btag)

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
    2. :func:`settle` every ``bucket=N.old`` aside: FORWARD iff the
       settled manifest's row count for N matches the live dir (the
       mutation committed), otherwise BACK.  A pre-commit crash therefore
       restores the exact pre-mutation state everywhere — including
       buckets whose rewrite had finished and all-deleted buckets with no
       live dir — and the interrupted mutation can simply be re-run.

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

    if not idx.aside_buckets():
        return
    m = M.read_rows(fs, mpath)
    counts = {r["bucket"]: r["n_rows"] for r in M.rollup(m or [])}
    settle(
        idx,
        lambda b: m is not None and live_rows(idx, b) == counts.get(b, 0),
    )


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


def _commit_rewrite(idx, touched: list, build_id: str) -> None:
    """Drop the touched buckets' manifest rows and add one row per touched
    bucket that still has data, from its new files' footers, with the
    bucket's prior max extents carried forward (a rewrite only removes or
    keeps rows, so they stay upper bounds) — then an atomic manifest swap.
    The stale file map goes first: it must never survive."""
    rows = idx.manifest_rows()
    prior = {
        r["bucket"]: r["max_ext"]
        for r in M.rollup(rows, maxs=("max_ext",), sums=())
    }
    keep = [r for r in rows if r["bucket"] not in touched]
    fresh = idx.footer_manifest(idx.data_path, touched, prior, build_id)
    _invalidate_file_map(idx)
    _replace_manifest(idx, keep + fresh)


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
    box = box or idx.box
    recover(idx)  # finish any interrupted earlier swap first

    if set(victims.columns) >= {c for pair in box.dims for c in pair}:
        vb = idx.keyed(victims, box).select("bucket").distinct()
        touched = [r["bucket"] for r in vb.collect()]
    else:
        touched = victim_buckets(idx, victims.select(id_col), id_col)
    if not touched:
        return idx

    # Rewrite each touched bucket without the victims (anti-join).
    survivors = read_buckets(idx, touched).join(
        victims.select(id_col), on=id_col, how="left_anti"
    )
    # (bucket, z) sort: rewritten buckets keep the build's in-file z
    # clustering (plain unsorted staging silently degraded row-group zone
    # maps for every deleted-from bucket — the EliminateSorts class of
    # regression, caught in r5)
    rewrite(
        idx, touched, "delete",
        lambda p: survivors.sortWithinPartitions("bucket", "z")
        .write.partitionBy("bucket").mode("overwrite").parquet(p),
        lambda t: _commit_rewrite(idx, t, build_id),
    )
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
    recover(idx)
    touched = compaction_buckets(idx, max_files_per_bucket)
    if not touched:
        return idx

    def write(p):
        w = (
            read_buckets(idx, touched)
            .repartition(len(touched), F.col("bucket"))
            .sortWithinPartitions("bucket", "z")
            .write.partitionBy("bucket")
            .mode("overwrite")
        )
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        w.parquet(p)

    # Touched buckets collapse to ONE fresh manifest row each (insert had
    # appended one row per batch).
    rewrite(idx, touched, "compact", write,
            lambda t: _commit_rewrite(idx, t, build_id))
    return idx
