"""Benchmark entry point.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository.  It starts one Spark
session on ``local[<cores>]``, sets its workload up (inputs, index,
oracle answers, warm-up), runs ops in a closed loop with one client for
``--seconds`` seconds, checks every op against the oracle, and prints as
its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  A traced run also writes its spans
to ``.perfbench_out/``.  All scratch files live under ``.perfbench_work/``
in the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smallest inputs (the benchmark's self-test)")
    return p.parse_args(argv)


def start_session(cores: int):
    """Spark session confined to the checkout: scratch, shuffle and JVM
    temp files under WORK; Python workers import the engine from ROOT."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata_* from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from libspatialindex_spark.session import get_spark

    return get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra={
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def probes(spark) -> dict:
    """Fixed costs: the warm 1-row job floor and the Python-worker cold
    start (first Arrow-UDF job minus a warm repeat)."""
    def noop(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    udf = spark.range(1).mapInPandas(lambda it: it, "id long")
    cold, warm = noop(udf), noop(udf)
    noop(spark.range(1))
    floor = statistics.median(noop(spark.range(1)) for _ in range(5))
    return {"session.job_floor_ms": 1e3 * floor,
            "session.py_worker_cold_s": max(0.0, cold - warm)}


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "libspatialindex_spark")):
        print(f"perfbench: no libspatialindex_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = start_session(cores)
    try:
        return run(args, spark, cores, time.perf_counter() - t0)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)


def run(args, spark, cores: int, start_s: float) -> int:
    from libspatialindex_spark.config import EngineConfig
    from perfbench.harness import Bench
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    session_s = time.perf_counter() - T_PROCESS
    layer = {"session.start_s": start_s}
    if args.trace:
        layer.update(probes(spark))
    # Set-up runs untraced in both modes; spans cover the timed ops only.
    b = Bench(spark, EngineConfig(target_partitions=cores), cores, args.seed,
              args.seconds, Tracer(spark, enabled=False))
    wl = WORKLOADS[args.workload](b, args.tiny)
    t0 = time.perf_counter()
    st = wl.build(WORK)
    build_s = time.perf_counter() - t0
    wl.oracle(st, WORK)
    oracle_s = time.perf_counter() - t0 - build_s
    wl.warm(st)
    warm_s = time.perf_counter() - t0 - build_s - oracle_s
    setup_s = session_s + build_s + oracle_s + warm_s
    print(f"perfbench: session {session_s:.2f} s, inputs {build_s:.2f} s, "
          f"oracle {oracle_s:.2f} s, warm-up {warm_s:.2f} s", file=sys.stderr)

    b.tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    wl.measure(st)
    print(f"perfbench: measured {time.perf_counter() - t0:.2f} s: "
          + " ".join(f"{o.kind}={o.seconds:.3f}" for o in b.ops), file=sys.stderr)
    b.tracer.collect()

    attempted, failed = len(b.ops), b.failed
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_ms": (b.op_ms(wl.kinds), "ms"),
        "bytes_per_row": (wl.bytes_per_row(st), "B/row"),
    }
    detail = {**e2e, **wl.detail(st),
              "error_rate": (failed / max(1, attempted), "ratio"),
              **{f"{k}_ms": (1e3 * b.median_s(k), "ms") for k in wl.kinds}}
    for name, (v, unit) in detail.items():
        print(f"{args.workload} {name} {v:.6g} {unit}")

    if args.trace:
        layer.update(wl.per_layer(st))
        layer.update({f"op.{k}": v for k, v in _op_counters(b).items()})
        layer["trace.op_ms"] = e2e["op_ms"][0]
        os.makedirs(OUT, exist_ok=True)
        b.tracer.dump(os.path.join(
            OUT, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        metrics = {k: {"value": _num(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {m["name"]: {"value": _num(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    correct = failed == 0 and all(math.isfinite(v) for v, _ in e2e.values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def _op_counters(b) -> dict:
    """Stage counters per timed op: the mean over the op spans."""
    from perfbench.trace import COUNTERS

    roots = [s for s in b.tracer.spans if s["parent"] is None]
    return {k: sum(s["total"][k] for s in roots) / max(1, len(roots))
            for k in COUNTERS}


def _num(v) -> float:
    """JSON has no NaN: a metric that could not be measured reads 0 (and
    an end-to-end one marks the run incorrect)."""
    v = float(v)
    return v if math.isfinite(v) else 0.0


if __name__ == "__main__":
    sys.exit(main())
