"""Time ``pipeline.join_and_tile`` over polygon layers of three densities.

The codec's share of the pipeline depends on the join's fan-out (joined
rows per image), so a pipeline change can help a dense layer and hurt a
sparse one.  This times one pass (join, tile assign, re-encode, aggregate)
of 10k skewed images against the TPC-H ``part`` polygon layer at sf0.001,
sf0.01 and sf0.1 (about 0.05, 0.45 and 4.4 pairs per image), on the
broadcast and on the salted path, and prints one JSON line per case with
the median pass time, pairs per image and an answer checksum.

    PYTHONPATH=CHECKOUT python3 scripts/pip_density_timing.py \
        IMAGES_DIR TESTDATA_ROOT

The engine is imported from ``CHECKOUT`` (the Python workers need it on
``PYTHONPATH`` too), so one copy of this script times any checkout.  For
an A/B, run it for two checkouts alternately over the same ``IMAGES_DIR``
(written on first use) and compare the medians; the checksums must agree.
``TESTDATA_ROOT`` holds the ``sf0.001``, ``sf0.01`` and ``sf0.1`` testdata
directories.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

from pyspark.sql import functions as F

from libspatialindex_spark import pipeline
from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.session import get_spark
from libspatialindex_spark.sources import testdata as td

N_IMAGES, PASSES = 10_000, 5


def main() -> None:
    images_dir, root = sys.argv[1], sys.argv[2]
    spark = get_spark("pip-density", cores=4)
    # split the image scan by compute, as the benchmark's join_tile does
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))
    conf = EngineConfig()
    imgs = pipeline.materialize_images(
        spark, N_IMAGES, images_dir, skewness=2.0, partitions=8
    )
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        polys = td.polys(spark, f"{root}/{sf}")
        for path, kw in (("broadcast", {}),
                         ("salt4", {"broadcast_polys": False, "salt": 4})):
            def one():
                out = pipeline.join_and_tile(imgs, polys, conf, **kw)
                t0 = time.perf_counter()
                row = out.agg(
                    F.count(F.lit(1)),
                    F.sum(F.pmod(F.xxhash64("image_id", "poly_id", "tile_id",
                                            "bytes"), F.lit(1 << 31))),
                ).collect()[0]
                return time.perf_counter() - t0, tuple(row)

            one()  # warm
            runs = [one() for _ in range(PASSES)]
            answers = {a for _, a in runs}
            print(json.dumps({
                "sf": sf, "path": path,
                "median_ms": round(1e3 * statistics.median(t for t, _ in runs), 1),
                "pairs_per_image": round(runs[0][1][0] / N_IMAGES, 3),
                "checksum": [list(a) for a in answers],
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
