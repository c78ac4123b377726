"""Raster↔vector tiling: assign images to grid tiles, re-encode their bytes.

North-rule stage: every image row is assigned a deterministic ``tile_id``
(the Morton-grid tile containing its point), then image bytes are
re-encoded inside Arrow UDFs.  Invariants (BASELINE.json ``input_hint``):

* decoded-pixel fidelity — exact for lossless PNG, PSNR ≥ 40 dB for the
  lossy path (checked by :func:`fidelity_report`);
* exact ``caption`` pass-through (binary/string columns must survive the
  Arrow round-trip unmodified).

Execution shape: ``tile_id`` is a pure Column expr (codegen).  Re-encode is
``mapInPandas`` with *no shuffle at all*.  Its output depends only on each
row's own ``(bytes, fmt)``, so each Arrow batch runs the codec once per
distinct image: a point-in-polygon join upstream copies an image row once
per polygon it falls in, and those copies share a batch."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.functions import curves
from libspatialindex_spark.sources import png as codec


def assign_tiles(
    images: DataFrame, conf: EngineConfig, x: str = "x", y: str = "y"
) -> DataFrame:
    """Add ``tile_id`` — row-major grid cell at ``conf.tile_bits``."""
    return images.withColumn(
        "tile_id", curves.cell_id(F.col(x), F.col(y), conf, bits=conf.tile_bits)
    )


def reencode(
    images: DataFrame,
    out_fmt: str | None = None,
    quality: int = 90,
    level: int = 0,
) -> DataFrame:
    """Re-encode ``bytes`` (to ``out_fmt``, or each row's own ``fmt``).

    Arrow-batched; decoded pixels are re-encoded with the target codec.
    ``level=0`` (stored-block deflate — spec-valid, lossless) is the hot-path
    default: deflate effort dominated the Python stage 26:1 on small tiles.
    All non-image columns pass through untouched (caption equality is free
    by construction but verified in tests — Arrow round-trip fidelity)."""
    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _reencode_batch(pdf, out_fmt, quality, level)

    return images.mapInPandas(work, images.schema)


def _reencode_batch(
    pdf: pd.DataFrame, out_fmt: str | None, quality: int, level: int
) -> pd.DataFrame:
    """One Arrow batch of :func:`reencode`: the codec runs once per
    distinct ``(bytes, fmt)``, and repeated rows reuse its output."""
    done: dict[tuple[bytes, str], bytes] = {}
    new_bytes, new_fmt = [], []
    for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
        key = (bytes(data), fmt)
        tgt = out_fmt or fmt
        if key not in done:
            px = codec.decode(key[0], fmt)
            done[key] = codec.encode(px, tgt, quality=quality, level=level)
        new_bytes.append(done[key])
        new_fmt.append(tgt)
    pdf = pdf.copy()
    pdf["bytes"] = new_bytes
    pdf["fmt"] = new_fmt
    return pdf


def fidelity_report(
    original: DataFrame, reencoded: DataFrame, sample: int = 256
) -> pd.DataFrame:
    """Join original↔re-encoded on image_id and compute per-row PSNR +
    caption equality (driver-side on a sample — a *check*, not a stage)."""
    a = original.select("image_id", "bytes", "fmt", "caption").limit(sample).toPandas()
    b = (
        reencoded.select(
            F.col("image_id"),
            F.col("bytes").alias("bytes2"),
            F.col("fmt").alias("fmt2"),
            F.col("caption").alias("caption2"),
        )
        .limit(sample * 4)
        .toPandas()
    )
    m = a.merge(b, on="image_id", how="inner")
    rows = []
    for _, r in m.iterrows():
        pa = codec.decode(bytes(r["bytes"]), r["fmt"])
        pb = codec.decode(bytes(r["bytes2"]), r["fmt2"])
        rows.append(
            {
                "image_id": r["image_id"],
                "psnr": codec.psnr(pa, pb),
                "caption_equal": r["caption"] == r["caption2"],
            }
        )
    return pd.DataFrame(rows)


def tile_stats(tiled: DataFrame) -> DataFrame:
    """Per-tile rows/bytes — the tiling stage's skew metrics."""
    return tiled.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("bytes")).alias("n_bytes"),
    )
