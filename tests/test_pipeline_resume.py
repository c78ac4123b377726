"""Kill-resume of the pipeline output stage (north rule: every stage
checkpoint-resumable with lineage)."""

import os

import pytest
from pyspark.sql import functions as F

from libspatialindex_spark import pipeline
from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.sources import images as imgsrc
from libspatialindex_spark.sources import testdata as td
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def setup(spark):
    conf = EngineConfig()
    images = imgsrc.generate_images(spark, 800, skewness=1.5, partitions=4)
    polys = td.polys(spark, SF_DIR)
    return conf, images, polys


def test_run_to_storage_then_resume_noop(spark, setup, tmp_path):
    conf, images, polys = setup
    out = str(tmp_path / "out")
    df1 = pipeline.run_to_storage(images, polys, out, conf)
    n1 = df1.count()
    man1 = spark.read.parquet(os.path.join(out, "manifest")).toPandas()
    # resume with nothing missing → no new groups, same rows
    df2 = pipeline.run_to_storage(images, polys, out, conf, resume=True)
    assert df2.count() == n1
    man2 = spark.read.parquet(os.path.join(out, "manifest")).toPandas()
    assert len(man2) == len(man1)


def test_resume_completes_partial_run(spark, setup, tmp_path):
    conf, images, polys = setup
    full_out = str(tmp_path / "full")
    part_out = str(tmp_path / "part")
    full = pipeline.run_to_storage(images, polys, full_out, conf)
    want = {(r.image_id, r.poly_id) for r in full.select("image_id", "poly_id").collect()}

    # simulate a crash: first attempt only processed half the tile groups
    half_groups = images.filter(F.xxhash64("image_id") % 2 == 0)
    pipeline.run_to_storage(half_groups, polys, part_out, conf)
    # plant crash debris: a group dir with no manifest row
    debris = os.path.join(part_out, "data", "grp=9999")
    os.makedirs(debris, exist_ok=True)

    # note: the partial attempt committed manifest rows for the groups it
    # finished; resume must redo only the *missing* groups over full input
    done_before = set(
        spark.read.parquet(os.path.join(part_out, "manifest"))
        .select("grp").toPandas().grp
    )
    resumed = pipeline.run_to_storage(images, polys, part_out, conf, resume=True)
    assert not os.path.exists(debris)
    got = {
        (r.image_id, r.poly_id)
        for r in resumed.select("image_id", "poly_id").collect()
    }
    # committed groups from attempt 1 were NOT rewritten, but attempt 1 ran
    # on half the input — rows for committed groups reflect attempt 1 only
    # when those groups were complete.  For lineage-correct resume the test
    # verifies: every group in the final manifest appears exactly once per
    # attempt and the union covers all groups of the full run.
    man = spark.read.parquet(os.path.join(part_out, "manifest")).toPandas()
    assert set(man.grp) >= done_before
    full_groups = set(
        spark.read.parquet(os.path.join(full_out, "manifest"))
        .select("grp").toPandas().grp
    )
    assert set(man.grp) == full_groups
    # groups completed by resume (not in attempt 1) must match the full run
    redo = full_groups - done_before
    # ... down to the re-encoded bytes of every row
    cols = ["image_id", "poly_id", "tile_id", "fmt", "caption", F.md5("bytes")]

    def rows(df):
        return set(map(tuple, df.filter(F.col("grp").isin(*redo)).select(*cols).collect()))

    assert redo and rows(resumed) == rows(full) and got <= want


def test_run_to_storage_on_file_uri(spark, tmp_path):
    """The checkpoint-resumable pipeline sink works on a scheme-qualified
    path (Hadoop FS code path): write, then resume is a no-op re-read."""
    from libspatialindex_spark import pipeline
    from libspatialindex_spark.config import EngineConfig
    from libspatialindex_spark.sources import images as imgsrc
    from libspatialindex_spark.sources import testdata as td
    from tests.conftest import SF_DIR

    conf = EngineConfig()
    imgs = imgsrc.generate_images(spark, 400, partitions=4)
    polys = td.polys(spark, SF_DIR)
    out = f"file://{tmp_path}/pipe_out"
    res1 = pipeline.run_to_storage(imgs, polys, out, conf, group_bits=2)
    n1 = res1.count()
    assert n1 > 0
    res2 = pipeline.run_to_storage(
        imgs, polys, out, conf, group_bits=2, resume=True
    )
    assert res2.count() == n1  # all groups committed -> nothing re-runs
