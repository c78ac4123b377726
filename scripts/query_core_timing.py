"""Same-session A/B of the query core: time two checkouts, alternating.

    python3 scripts/query_core_timing.py CHECKOUT_A CHECKOUT_B SF_DIR
        [--rounds N] [--reps R] [--windows SMALL,LARGE] [--cores C]

Each round starts one child process per checkout, A then B in even rounds
and B then A in odd ones, with that checkout first on ``PYTHONPATH`` (the
Python workers inherit it), so both are timed on the same machine in the
same stretch of time.  A child opens one Spark session and times, through
the checkout's own ``__spark_entry__``:

* q01-q05, q19, q53 and q55 (``queries()[name](spark, SF_DIR)``);
* the window-restricted self-join at d=2 (``_rects_rel``) and d=3
  (``_rects3_rel``) on a SMALL and a LARGE cube window centred at 0.4 —
  through ``spatial_join.self_join_query(rel, *lows, *highs)``, or, in a
  checkout that still has it, ``nd.self_join_query_nd(rel, lows, highs)``
  at d=3.

Every case runs once to warm and then R timed times; each run drops the
session's cache first and consumes the result with a ``noop`` write.  The
first round's children also compute a checksum per case (row count and
the sum of ``xxhash64`` over every column), and the two checkouts' must
agree.  The last lines print, per case, each checkout's median and
interquartile range in ms over all timed runs and the B/A ratio of the
medians.  Results are per machine: report them with its core count.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

QUERIES = [
    "q01_range_intersects", "q02_containment", "q03_point_location",
    "q04_knn", "q05_self_join", "q19_knn_join", "q53_knn_box",
    "q55_3d_knn_box",
]


def _self_join_cases(em, windows):
    from libspatialindex_spark.operators import nd, spatial_join

    def case(d, side):
        lo, hi = [0.4] * d, [0.4 + side] * d

        def run(spark, sf_dir):
            if d == 2:
                return spatial_join.self_join_query(
                    em._rects_rel(spark, sf_dir), *lo, *hi
                )
            rel = em._rects3_rel(spark, sf_dir)
            if hasattr(nd, "self_join_query_nd"):  # a checkout with the twin
                return nd.self_join_query_nd(rel, lo, hi)
            return spatial_join.self_join_query(rel, *lo, *hi)

        return run

    return {
        f"self_join_d{d}_w{side}": case(d, side)
        for d in (2, 3) for side in windows
    }


def child(sf_dir: str, reps: int, windows, cores: int, checksum: bool) -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from libspatialindex_spark.session import get_spark

    spark = get_spark("query_core_timing", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    cases = {name: em.queries()[name] for name in QUERIES}
    cases.update(_self_join_cases(em, windows))
    out: dict = {"ms": {}, "checksum": {}}
    for name, fn in cases.items():
        ms = []
        for i in range(reps + 1):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            if i:  # run 0 warms
                ms.append(round((time.perf_counter() - t0) * 1000, 1))
        out["ms"][name] = ms
        if checksum:
            df = fn(spark, sf_dir)
            h = F.xxhash64(*df.columns).cast("decimal(38,0)")
            row = df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0]
            out["checksum"][name] = [row[0], str(row[1])]
    print("RESULT " + json.dumps(out), flush=True)
    spark.stop()


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("sf_dir")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--windows", default="0.03,0.1")
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--checksum", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    windows = [float(w) for w in args.windows.split(",")]
    if args.child:
        child(args.sf_dir, args.reps, windows, args.cores, args.checksum)
        return

    roots = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    ms: dict = {"A": {}, "B": {}}
    sums: dict = {}
    for rnd in range(args.rounds):
        for tag in ("AB" if rnd % 2 == 0 else "BA"):
            root = roots[tag]
            env = dict(os.environ, PYTHONPATH=root)
            cmd = [
                sys.executable, os.path.abspath(__file__), root, root,
                args.sf_dir, "--child", "--reps", str(args.reps),
                "--windows", args.windows, "--cores", str(args.cores),
            ] + (["--checksum"] if rnd == 0 else [])
            proc = subprocess.run(
                cmd, cwd=root, env=env, capture_output=True, text=True
            )
            lines = [
                ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")
            ]
            if proc.returncode or not lines:
                sys.exit(f"{tag} round {rnd} failed:\n{proc.stderr[-1500:]}")
            res = json.loads(lines[-1][len("RESULT "):])
            print(json.dumps({"round": rnd, "checkout": tag, "ms": res["ms"]}),
                  flush=True)
            for name, xs in res["ms"].items():
                ms[tag].setdefault(name, []).extend(xs)
            if res["checksum"]:
                sums[tag] = res["checksum"]
    if sums and sums["A"] != sums["B"]:
        bad = [n for n in sums["A"] if sums["A"][n] != sums["B"].get(n)]
        sys.exit(f"checksums differ: {bad}")
    print(f"{'case':24s} {'A median [IQR] ms':>26s} {'B median [IQR] ms':>26s}"
          f" {'B/A':>6s}")
    for name in ms["A"]:
        qa, qb = _quartiles(ms["A"][name]), _quartiles(ms["B"][name])
        print(f"{name:24s} {qa[1]:9.0f} [{qa[0]:6.0f}-{qa[2]:6.0f}]"
              f" {qb[1]:9.0f} [{qb[0]:6.0f}-{qb[2]:6.0f}]"
              f" {qb[1] / qa[1]:6.3f}")
    if sums:
        print("checksums agree:", json.dumps(sums["A"]))


if __name__ == "__main__":
    main()
