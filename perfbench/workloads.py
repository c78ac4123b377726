"""The benchmark's workloads.

A workload builds its inputs in ``build``, computes the oracle's answers
in ``oracle``, warms the code paths it times in ``warm``, then ``measure``
runs ops in a closed loop with one client until the run's seconds are
spent.  ``bytes_per_row``,
``detail`` and ``per_layer`` turn the recorded ops and spans into metrics.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from libspatialindex_spark import api, pipeline
from libspatialindex_spark.operators import spatial_join, tiling
from libspatialindex_spark.plans import stats
from perfbench import inputs
from perfbench.harness import Bench, dir_bytes, dir_files
from perfbench.oracle import (
    Oracle, knn_mask, np_answer, pip_sql, same_answer, spark_answer,
    sql_answer, tile_sql, wrap_col, wrap_sql,
)
from perfbench.trace import idle_core_s, task_skew

K = 10  # kNN k, as the reference's 10NN query workload
POLY_CELLS = inputs.SCALE // inputs.POLY_EXTENT_UNITS


def _med(xs, default=0.0):
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else default


def _ms(s) -> float:
    return 1e3 * (s["end"] - s["start"])


# --------------------------------------------------------------- join_tile --


@dataclass
class TileState:
    images: object
    polys_pdf: pd.DataFrame
    polys: object
    shifts: list
    images_path: str
    materialize_s: float
    answers: dict = field(default_factory=dict)


class JoinTile:
    """Images → broadcast PiP join → tile assign → re-encode, one pass per op.

    The image table is ``generate_images`` output (skewness 2.0, so rows
    pile up near y = 0); each pass remaps every image's x by a seeded
    wrap-around shift, so no pass re-reads a result of another."""

    kinds = ("pass",)
    prefixes = ("prefix.scan", "prefix.pip", "prefix.assign")

    def __init__(self, b: Bench, tiny: bool):
        self.b = b
        self.n_images = 2_000 if tiny else 10_000
        self.n_polys = 2_000 if tiny else 20_000
        self.min_passes, self.max_passes = 4, 16
        # Codec stages are CPU-bound: split the image scan by compute, as
        # bench.py's pipeline section does.
        b.spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        b.spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))
        self.rows: list[int] = []
        self.out_bytes: list[int] = []

    def build(self, d: str) -> TileState:
        b = self.b
        path = os.path.join(d, "images")
        t0 = time.perf_counter()
        images = pipeline.materialize_images(
            b.spark, self.n_images, path, skewness=2.0, partitions=2 * b.cores)
        materialize_s = time.perf_counter() - t0
        polys = inputs.polys(inputs.stream(b.seed, 2), self.n_polys)
        polys.to_parquet(os.path.join(d, "polys.parquet"))
        return TileState(
            images, polys, b.spark.read.parquet(os.path.join(d, "polys.parquet")),
            inputs.shifts(inputs.stream(b.seed, 3), self.max_passes + 1),
            path, materialize_s,
        )

    def oracle(self, st: TileState, d: str) -> None:
        o = Oracle(d, self.b.cores)
        try:
            o.register("polys", st.polys_pdf)
            o.register("shifts", pd.DataFrame({
                "pass": range(len(st.shifts)), "o": st.shifts}))
            pts = f"""
                SELECT s.pass, CAST(substr(i.image_id, 5) AS BIGINT) AS img,
                       {wrap_sql("i.x", "s.o")} AS x, i.y
                FROM read_parquet('{st.images_path}/*.parquet') i, shifts s"""
            tile = tile_sql("pt.x", "pt.y", self.b.conf.tile_bits)
            st.answers = o.answers(pip_sql(
                pts, "polys", "pass", ["pt.img", "pc.poly_id", tile], POLY_CELLS))
        finally:
            o.close()

    @staticmethod
    def key_cols():
        return [
            F.expr("CAST(substring(image_id, 5) AS BIGINT)"),
            F.col("poly_id"), F.col("tile_id"),
        ]

    def _shifted(self, st: TileState, i: int):
        return st.images.withColumn("x", wrap_col(F.col("x"), st.shifts[i]))

    def warm(self, st: TileState) -> None:
        """One full pass on a shift no timed pass uses."""
        imgs = self._shifted(st, self.max_passes)
        spark_answer(pipeline.join_and_tile(imgs, st.polys, self.b.conf),
                     self.key_cols())

    def measure(self, st: TileState) -> None:
        b, tr, conf = self.b, self.b.tracer, self.b.conf
        t_end = time.perf_counter() + b.seconds
        for i in range(self.max_passes):
            if i >= self.min_passes and time.perf_counter() >= t_end:
                break
            imgs = self._shifted(st, i)
            want = st.answers.get(i, (0, 0, 0))
            if tr.enabled:
                self._prefixes(imgs, st.polys, want)

            def full():
                with tr.span("pipeline.join_and_tile"):
                    out = pipeline.join_and_tile(imgs, st.polys, conf)
                with tr.span("pipeline.action"):
                    got = spark_answer(out, self.key_cols(),
                                       [F.sum(F.length("bytes"))])
                self.rows.append(got[0])
                self.out_bytes.append(int(got[3] or 0))
                return got

            b.run_op("pass", full, want, same_answer)
        self._fidelity(st)

    def _prefixes(self, imgs, polys, want) -> None:
        """Traced run only: the pipeline's prefixes as separate actions,
        so each layer's self time is the difference of consecutive ones."""
        b, conf = self.b, self.b.conf

        def joined():
            return spatial_join.point_in_box_join(
                imgs, polys, "x", "y", pipeline.POLY_BOX, conf, broadcast_boxes=True)

        def scan():
            return spark_answer(imgs, [F.col("x").isNotNull()],
                                [F.sum(F.length("bytes")), F.sum(F.length("caption"))])

        def pip():
            return spark_answer(joined(), [F.col("poly_id")], [F.sum(F.length("bytes"))])

        def assign():
            return spark_answer(tiling.assign_tiles(joined(), conf), self.key_cols(),
                                [F.sum(F.length("bytes"))])

        b.run_op("prefix.scan", scan, self.n_images, lambda g, w: g[0] == w)
        b.run_op("prefix.pip", pip, want[0], lambda g, w: g[0] == w)
        b.run_op("prefix.assign", assign, want, same_answer)

    def _fidelity(self, st: TileState) -> None:
        """Caption pass-through and PSNR >= 40 dB on a sample of images."""
        sub = st.images.filter(F.col("image_id") <= "img-000000000127")
        out = pipeline.join_and_tile(sub, st.polys, self.b.conf)
        rep = tiling.fidelity_report(sub, out, sample=128)
        ok = (len(rep) > 0 and bool((rep["psnr"] >= 40.0).all())
              and bool(rep["caption_equal"].all()))
        self.b.check("fidelity", ok, f"({len(rep)} rows)")

    def bytes_per_row(self, st: TileState) -> float:
        """Re-encoded output bytes per joined row."""
        return sum(self.out_bytes) / max(1, sum(self.rows))

    def detail(self, st: TileState) -> dict:
        return {"images_per_s": (self.n_images / self.b.median_s("pass"), "images/s")}

    def per_layer(self, st: TileState) -> dict:
        b, tr = self.b, self.b.tracer
        m = {k: b.median_s(k) for k in self.prefixes + ("pass",)}
        passes = tr.named("pass")
        assigns = tr.named("prefix.assign")
        return {
            "sources.images_materialize_s": st.materialize_s,
            "pipeline.scan_s": m["prefix.scan"],
            "spatial_join.pip_s": m["prefix.pip"] - m["prefix.scan"],
            "tiling.assign_s": m["prefix.assign"] - m["prefix.pip"],
            "tiling.reencode_s": m["pass"] - m["prefix.assign"],
            "spatial_join.pairs_per_image": _med(self.rows) / self.n_images,
            "tiling.reencode_cpu_s": (
                _med([s["total"]["executor_cpu_s"] for s in passes])
                - _med([s["total"]["executor_cpu_s"] for s in assigns])),
            "tiling.task_skew": _med([task_skew(s) for s in passes]),
            "tiling.idle_core_s": _med([idle_core_s(s, b.cores) for s in passes]),
        }


# ------------------------------------------------------------- index_churn --


READ_KINDS = ("intersects", "nearest", "point")
RANGE_KINDS = ("intersects", "point")
KNN_KINDS = ("nearest",)


@dataclass
class Phase:
    kind: str  # the read, at this phase's version
    window: tuple
    mutation: str  # run after the read: "insert" or "delete"
    batch: pd.DataFrame  # rows inserted, or victims (id + box) deleted


@dataclass
class ChurnState:
    rects: pd.DataFrame
    index: api.Index
    build_s: float
    files: int
    nbytes: int
    phases: list = field(default_factory=list)
    live: list = field(default_factory=list)  # live entries at each version
    reads: pd.DataFrame | None = None
    entries: pd.DataFrame | None = None
    answers: dict = field(default_factory=dict)
    samples: list = field(default_factory=list)


class IndexChurn:
    """The reference library's query workload on a stored index over a
    seeded rect layer, with writes beside reads.  One cycle is: a read,
    insert (~1% new rows), a read, delete (~1% of live rows).  Reads go
    through ``api.Index`` and rotate over a 0.01 window, point location
    (a degenerate window) and 10NN of a point.  After the last cycle
    ``compact`` runs, and a fresh read checks that it kept every row."""

    kinds = READ_KINDS + ("insert", "delete", "compact")

    def __init__(self, b: Bench, tiny: bool):
        self.b = b
        self.n_rects = 3_000 if tiny else 50_000
        self.batch = max(1, self.n_rects // 100)
        self.max_cycles = 4
        self.files_per_bucket: list[int] = []
        self.bytes_written = 0
        self.end_live = 0

    # set-up -------------------------------------------------------------------

    def build(self, d: str) -> ChurnState:
        b = self.b
        rects = inputs.rects(inputs.stream(b.seed, 1), self.n_rects)
        src = os.path.join(d, "rects.parquet")
        rects.to_parquet(src)
        path = os.path.join(d, "index")
        t0 = time.perf_counter()
        idx = api.Index.create(
            b.spark.read.parquet(src), path, b.conf,
            max_records_per_file=max(500, self.n_rects // 25),
        )
        build_s = time.perf_counter() - t0
        files = [p for p in dir_files(idx.stored.data_path) if p.endswith(".parquet")]
        st = ChurnState(rects, idx, build_s, len(files), dir_bytes(path))
        self._schedule(st)
        return st

    def _read(self, rng, kind: str):
        if kind in ("point", "nearest"):
            (x, y), = inputs.points(rng, 1)
            return kind, (x, y, x, y)
        return kind, inputs.windows(rng, 1, 0.01)[0]

    def _schedule(self, st: ChurnState) -> None:
        """Phases of one read followed by a mutation, and the versioned
        entry table the oracle answers them from: an entry is live at
        version v when ``born <= v < dead``; phase p reads at version p."""
        rng = inputs.stream(self.b.seed, 4)
        born = {int(i): 0 for i in st.rects["id"]}
        dead: dict[int, int] = {}
        tables, reads = [st.rects], []
        next_id = self.n_rects
        for p in range(2 * self.max_cycles + 1):
            st.live.append(len(born) - len(dead))
            kind, w = self._read(rng, READ_KINDS[p % len(READ_KINDS)])
            reads.append((p, kind, p, *w))
            if p % 2 == 0:
                batch = inputs.rects(inputs.stream(self.b.seed, 100 + p), self.batch, next_id)
                next_id += self.batch
                tables.append(batch)
                born.update({int(i): p + 1 for i in batch["id"]})
                st.phases.append(Phase(kind, w, "insert", batch))
            else:
                live = sorted(set(born) - set(dead))
                victims = set(rng.choice(live, self.batch, replace=False).tolist())
                dead.update({i: p + 1 for i in victims})
                allr = pd.concat(tables, ignore_index=True)
                batch = allr[allr["id"].isin(victims)].reset_index(drop=True)
                st.phases.append(Phase(kind, w, "delete", batch))
        e = pd.concat(tables, ignore_index=True)
        e["born"] = e["id"].map(born).astype("int64")
        e["dead"] = e["id"].map(dead).fillna(1 << 30).astype("int64")
        st.entries = e
        st.reads = pd.DataFrame(reads, columns=["rid", "kind", "v", "x0", "y0", "x1", "y1"])

    def oracle(self, st: ChurnState, d: str) -> None:
        o = Oracle(d, self.b.cores)
        try:
            o.register("e", st.entries)
            o.register("q", st.reads)
            st.answers = o.answers(f"""
                SELECT q.rid, {sql_answer(["e.id"])} FROM q JOIN e
                  ON e.born <= q.v AND q.v < e.dead
                 AND NOT (e.xmin > q.x1 OR e.xmax < q.x0
                          OR e.ymin > q.y1 OR e.ymax < q.y0)
                WHERE q.kind IN ('intersects', 'point')
                GROUP BY q.rid
            """)
        finally:
            o.close()
        e = st.entries
        for r in st.reads[st.reads["kind"].isin(KNN_KINDS)].itertuples():
            live = e[(e["born"] <= r.v) & (r.v < e["dead"])]
            m = knn_mask(live, (r.x0, r.y0, r.x1, r.y1), K)
            st.answers[r.rid] = np_answer([live["id"].to_numpy()[m]])

    # ops ----------------------------------------------------------------------

    def _read_fn(self, st: ChurnState, kind: str, w):
        idx, tr = st.index, self.b.tracer
        layer = "knn" if kind in KNN_KINDS else "range_query"

        def fn():
            with tr.span(f"{layer}.call"):
                if kind == "nearest":
                    df = idx.nearest(w[0], w[1], K)
                else:  # intersects, and point location as a degenerate window
                    df = idx.intersects(w)
            with tr.span(f"{layer}.action"):
                return spark_answer(df, [F.col("id")])

        return fn

    def _read_op(self, st: ChurnState, p: int) -> None:
        ph = st.phases[p]
        self.b.run_op(ph.kind, self._read_fn(st, ph.kind, ph.window),
                      st.answers.get(p, (0, 0, 0)), same_answer)

    def _mutate(self, st: ChurnState, kind: str, fn) -> None:
        b = self.b
        before = dir_files(st.index.stored.path) if b.tracer.enabled else None

        def call():  # the rows are checked by the reads that follow
            fn()

        b.run_op(kind, call, None)
        if before is not None:
            after = dir_files(st.index.stored.path)
            self.bytes_written += sum(n for p, n in after.items() if before.get(p) != n)
            self.files_per_bucket.append(_max_files_per_bucket(st.index.stored.data_path))

    def warm(self, st: ChurnState) -> None:
        rng = inputs.stream(self.b.seed, 5)
        for kind in READ_KINDS:
            self._read_fn(st, kind, self._read(rng, kind)[1])()

    def measure(self, st: ChurnState) -> None:
        b, idx = self.b, st.index
        t_end = time.perf_counter() + b.seconds
        p = 0
        for c in range(self.max_cycles):
            for p in (2 * c, 2 * c + 1):
                ph = st.phases[p]
                self._read_op(st, p)
                batch = b.spark.createDataFrame(ph.batch)
                if ph.mutation == "insert":
                    self._mutate(st, "insert",
                                 lambda: idx.insert(batch, build_id=f"insert-{p}"))
                else:
                    self._mutate(st, "delete", lambda: idx.delete(batch))
            if time.perf_counter() >= t_end:
                break
        self._mutate(st, "compact", idx.compact)
        self._read_op(st, p + 1)  # same version as before the compaction
        self.end_live = st.live[p + 1]
        if b.tracer.enabled:
            self._observed(st)

    def _observed(self, st: ChurnState) -> None:
        """Prune counters from ``plans.stats.observed_query`` on a fixed
        sample of the run's windows (traced run only)."""
        rel = st.index.stored.relation(st.index.box)
        for w in [ph.window for ph in st.phases if ph.kind == "intersects"][:3]:
            df, io = stats.observed_query(rel, *w, "intersects")
            spark_answer(df, [F.col("id")])
            st.samples.append(io())

    # metrics ------------------------------------------------------------------

    def bytes_per_row(self, st: ChurnState) -> float:
        """On-disk index bytes per live entry at the end of the run."""
        return dir_bytes(st.index.stored.path) / max(1, self.end_live)

    def detail(self, st: ChurnState) -> dict:
        b = self.b
        reads = [o.seconds for o in b.ops if o.kind in READ_KINDS and o.ok]
        ins, dels = b.times("insert"), b.times("delete")
        return {
            "lookup_p50_ms": (1e3 * _med(reads, float("nan")), "ms"),
            "insert_rows_per_s": (self.batch * len(ins) / sum(ins) if ins else 0.0, "rows/s"),
            "delete_rows_per_s": (self.batch * len(dels) / sum(dels) if dels else 0.0, "rows/s"),
            "compact_s": (b.median_s("compact"), "s"),
        }

    def per_layer(self, st: ChurnState) -> dict:
        b, tr = self.b, self.b.tracer

        def child(part, kinds):
            return [s for s in tr.spans if s["parent"] is not None
                    and s["name"].endswith(part)
                    and tr.spans[s["parent"]]["name"] in kinds]

        def op_med(kinds, f):
            return _med([f(s) for s in tr.spans
                         if s["parent"] is None and s["name"] in kinds])

        def jobs(s):
            return s["total"]["jobs"]

        scanned = sum(x["rows_scanned"] or 0 for x in st.samples)
        returned = sum(x["rows_returned"] or 0 for x in st.samples)
        return {
            "index_build.build_s": st.build_s,
            "index_build.files": st.files,
            "index_build.bytes": st.nbytes,
            "range_query.plan_ms": _med([_ms(s) for s in child(".call", RANGE_KINDS)]),
            "range_query.exec_ms": _med([_ms(s) for s in child(".action", RANGE_KINDS)]),
            "range_query.jobs": op_med(RANGE_KINDS, jobs),
            "range_query.files_planned": _med([x["files_planned"] for x in st.samples]),
            "range_query.rows_scanned": _med([x["rows_scanned"] for x in st.samples]),
            "range_query.rows_returned": _med([x["rows_returned"] for x in st.samples]),
            "range_query.useful_ratio": returned / scanned if scanned else 0.0,
            "knn.plan_ms": _med([_ms(s) for s in child(".call", KNN_KINDS)]),
            "knn.exec_ms": _med([_ms(s) for s in child(".action", KNN_KINDS)]),
            "knn.jobs": op_med(KNN_KINDS, jobs),
            "mutations.insert_s": b.median_s("insert"),
            "mutations.delete_s": b.median_s("delete"),
            "mutations.compact_s": b.median_s("compact"),
            "mutations.bytes_written": self.bytes_written,
            "mutations.files_per_bucket_max": max(self.files_per_bucket, default=0),
        }


def _max_files_per_bucket(data_path: str) -> int:
    counts = [
        sum(f.endswith(".parquet") for f in os.listdir(os.path.join(data_path, d)))
        for d in os.listdir(data_path) if d.startswith("bucket=")
    ]
    return max(counts, default=0)


WORKLOADS = {"join_tile": JoinTile, "index_churn": IndexChurn}
