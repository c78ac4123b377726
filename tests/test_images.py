"""Image pipeline tests: codecs, generator determinism, tiling fidelity."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from libspatialindex_spark import pipeline
from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import tiling
from libspatialindex_spark.sources import images, png


def test_png_roundtrip_lossless():
    px = images.pixels_for(np.arange(5), size=16)
    for p in px:
        assert np.array_equal(png.png_decode(png.png_encode(p)), p)


def test_fake_jpeg_is_lossy_but_high_psnr():
    p = images.pixels_for(np.array([42]), size=32)[0]
    enc = png.fake_jpeg_encode(p, quality=90)
    dec = png.fake_jpeg_decode(enc)
    assert not np.array_equal(dec, p)  # actually lossy
    assert png.psnr(p, dec) >= 40.0
    # low quality must violate the gate — the check is not vacuous
    low = png.fake_jpeg_decode(png.fake_jpeg_encode(p, quality=5))
    assert png.psnr(p, low) < 40.0


def test_generator_deterministic_and_schema(spark):
    df1 = images.generate_images(spark, 200, skewness=2.0, partitions=4)
    df2 = images.generate_images(spark, 200, skewness=2.0, partitions=2)
    a = df1.orderBy("image_id").toPandas()
    b = df2.orderBy("image_id").toPandas()
    assert list(a.image_id) == list(b.image_id)
    assert all(bytes(x) == bytes(y) for x, y in zip(a.bytes, b.bytes))
    assert (a.caption == b.caption).all()
    assert (a.phash == b.phash).all()
    assert a.x.between(0, 1).all() and a.y.between(0, 1).all()
    # skewness piles mass toward y=0 (Generator.cc:70 semantics)
    assert a.y.median() < 0.4


def test_decoded_bytes_match_source_pixels(spark):
    pdf = images.generate_images(spark, 20, partitions=1).toPandas()
    for _, r in pdf.iterrows():
        px = png.decode(bytes(r["bytes"]), r["fmt"])
        src = images.pixels_for(np.array([int(r["image_id"][4:])]))[0]
        if r["fmt"] == "png":
            assert np.array_equal(px, src)
        else:
            assert png.psnr(px, src) >= 40.0
        assert r["phash"] == images.average_hash(src)


@pytest.fixture(scope="module")
def tiled(spark):
    conf = EngineConfig()
    df = images.generate_images(spark, 300, skewness=3.0, partitions=4)
    return conf, df, tiling.assign_tiles(df, conf)


def test_tile_assignment_deterministic_grid(tiled):
    conf, df, t = tiled
    pdf = t.select("image_id", "x", "y", "tile_id").toPandas()
    n = conf.tile_n
    want = (
        np.clip(np.floor(pdf.x * n), 0, n - 1) * n
        + np.clip(np.floor(pdf.y * n), 0, n - 1)
    ).astype(np.int64)
    assert (pdf.tile_id.to_numpy() == want.to_numpy()).all()


def test_reencode_fidelity_and_caption_passthrough(tiled):
    conf, df, t = tiled
    re = tiling.reencode(t, out_fmt=None, quality=90)
    rep = tiling.fidelity_report(t, re, sample=300)
    assert len(rep) == 300
    assert rep.caption_equal.all()
    assert (rep.psnr >= 40.0).all()


def test_reencode_to_png_is_exact_for_png_rows(tiled):
    conf, df, t = tiled
    only_png = t.filter(F.col("fmt") == "png")
    re = tiling.reencode(only_png, out_fmt="png")
    rep = tiling.fidelity_report(only_png, re, sample=100)
    assert (rep.psnr == np.inf).all()


def test_tile_stats_expose_skew(tiled):
    conf, df, t = tiled
    stats = tiling.tile_stats(t).toPandas()
    assert stats.n_rows.sum() == 300
    # skewness=3 → the hottest tile is much hotter than the median
    assert stats.n_rows.max() >= 3 * max(1, int(stats.n_rows.median()))


def test_reencode_batch_runs_codec_once_per_distinct_image(monkeypatch):
    """A join copies an image row once per polygon it falls in; the copies
    share one decode/encode and get the same output as their own call."""
    px = images.pixels_for(np.arange(3), size=16)
    src = [png.png_encode(px[0]), png.fake_jpeg_encode(px[1]), png.png_encode(px[2])]
    fmts = ["png", "jpeg", "png"]
    order = [0, 0, 0, 1, 2, 2]  # image 0 in three polygons, image 2 in two
    pdf = pd.DataFrame({
        "bytes": [src[i] for i in order],
        "fmt": [fmts[i] for i in order],
        "poly_id": range(len(order)),
    })
    want = [tiling._reencode_batch(pdf.iloc[[k]], None, 90, 0) for k in range(6)]
    calls = []
    decode = tiling.codec.decode
    monkeypatch.setattr(
        tiling.codec, "decode", lambda b, f: calls.append(f) or decode(b, f)
    )
    got = tiling._reencode_batch(pdf, None, 90, 0)
    assert len(calls) == 3
    assert list(got.poly_id) == list(pdf.poly_id)
    assert list(got.fmt) == [fmts[i] for i in order]
    assert list(got.bytes) == [w.bytes.iloc[0] for w in want]


ROW_KEY = ["image_id", "poly_id", "tile_id", "fmt", "caption"]


def _rows(df):
    cols = [*ROW_KEY, F.md5("bytes").alias("bytes_md5")]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def join_inputs(spark, tmp_path_factory):
    """Stored images + a dense polygon layer (about 2 polygons per point)."""
    path = str(tmp_path_factory.mktemp("imgs") / "t")
    images.generate_images(spark, 400, skewness=2.0, partitions=4).write.parquet(
        path
    )
    rng = np.random.default_rng(7)
    lo = rng.uniform(0.0, 0.9, size=(200, 2))
    hi = lo + rng.uniform(0.05, 0.15, size=(200, 2))
    polys = spark.createDataFrame(
        [(i, *map(float, lo[i]), *map(float, hi[i])) for i in range(200)],
        "poly_id long, pxmin double, pymin double, pxmax double, pymax double",
    )
    return EngineConfig(), spark.read.parquet(path), polys


@pytest.mark.parametrize("salt", [None, 4])
@pytest.mark.parametrize("fmt", [None, "png"])
def test_join_and_tile_same_rows_as_one_row_batches(spark, join_inputs, fmt, salt):
    """Sharing one encode among an image's join copies gives the rows that
    re-encoding each joined row on its own gives (one-row Arrow batches)."""
    conf, imgs, polys = join_inputs
    bcast = salt is None
    out = pipeline.join_and_tile(
        imgs, polys, conf, broadcast_polys=bcast, salt=salt, reencode_fmt=fmt
    )
    got = _rows(out)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        want = _rows(out)
    finally:
        spark.conf.set(key, prev)
    hit = {r[0] for r in want}
    assert len(hit) < len(want)  # images in several polygons
    assert len(hit) < imgs.count()  # and images in none
    assert got == want
