"""The stored index is one layout at every dimension: ``boundaries.json``
persists the per-axis world, the box columns, the grid and the
partitioner, and the manifest holds per-axis ``lows``/``highs``/
``max_ext``.  Pinned here: a 2-D index over renamed box columns survives
its whole lifecycle, and an index in the earlier 2-D on-disk form (a
partitioner ``kind`` plus build ``conf``, and a manifest of scalar
``xmin..ymax`` / ``max_ex`` / ``max_ey`` columns) still loads, answers,
takes writes and validates."""

import json

from libspatialindex_spark.api import Index
from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.operators import index_build, mutations, range_query
from libspatialindex_spark.operators.relation import BoxCols
from libspatialindex_spark.plans import fs as FS
from libspatialindex_spark.plans import manifest as M
from libspatialindex_spark.sources import testdata as td
from tests.conftest import SF_DIR

W = (0.2, 0.2, 0.5, 0.5)
RENAMED = {"xmin": "x0", "ymin": "y0", "xmax": "x1", "ymax": "y1"}

# The manifest schema of the earlier 2-D form.
SCALAR_MANIFEST = (
    "bucket long, zmin long, zmax long, "
    "xmin double, ymin double, xmax double, ymax double, "
    "n_rows long, n_bytes long, max_ex double, max_ey double, "
    "build_id string"
)


def _window_ids(pdf, box: BoxCols, w) -> list[int]:
    m = ~(
        (pdf[box.xmin] > w[2]) | (pdf[box.xmax] < w[0])
        | (pdf[box.ymin] > w[3]) | (pdf[box.ymax] < w[1])
    )
    return sorted(pdf.id[m].tolist())


def test_renamed_box_columns_round_trip(spark, conf, rects_pdf, tmp_path):
    """Build → insert → delete (routed by the victims' boxes) → compact →
    reload on box columns ``x0, y0, x1, y1``: the reloaded handle knows
    its columns, validates, and answers a window and its bounds exactly."""
    df = td.rects(spark, SF_DIR)
    for old, new in RENAMED.items():
        df = df.withColumnRenamed(old, new)
    pdf = rects_pdf.rename(columns=RENAMED)
    box = BoxCols("x0", "y0", "x1", "y1")
    path = str(tmp_path / "idx")

    index = Index.create(df.filter("id % 5 != 0"), path, conf, box=box)
    index.insert(df.filter("id % 5 = 0"))
    index.delete(df.filter("id % 7 = 0"))
    index.compact()
    live = pdf[pdf.id % 7 != 0]

    loaded = Index.load(spark, path, conf)
    assert loaded.box == box
    assert loaded.is_valid()
    got = sorted(r.id for r in loaded.intersects(W).collect())
    assert got == _window_ids(live, box, W) and got
    assert loaded.bounds() == (
        live.x0.min(), live.y0.min(), live.x1.max(), live.y1.max()
    )


def _to_scalar_form(idx, conf: EngineConfig) -> None:
    """Rewrite ``idx``'s metadata in the earlier 2-D on-disk form."""
    fs = idx.fs
    fs.write_text(
        FS.join(idx.path, "boundaries.json"),
        json.dumps({
            "kind": "zprefix", "shift": idx.spec.shift, "cuts": None,
            "kd_tree": None,
            "conf": {
                "world": list(conf.world), "grid_bits": conf.grid_bits,
                "target_partitions": conf.target_partitions,
                "tile_bits": conf.tile_bits,
            },
        }),
    )
    rows = [
        {
            "bucket": r["bucket"], "zmin": r["zmin"], "zmax": r["zmax"],
            "xmin": r["lows"][0], "ymin": r["lows"][1],
            "xmax": r["highs"][0], "ymax": r["highs"][1],
            "n_rows": r["n_rows"], "n_bytes": r["n_bytes"],
            "max_ex": r["max_ext"][0], "max_ey": r["max_ext"][1],
            "build_id": r["build_id"],
        }
        for r in idx.manifest_rows()
    ]
    fs.delete(idx.manifest_path)
    M.write_table(
        fs, FS.join(idx.manifest_path, M.part_name()), rows, SCALAR_MANIFEST
    )


def test_earlier_2d_form_loads_and_takes_writes(spark, conf, rects_pdf, tmp_path):
    df = td.rects(spark, SF_DIR)
    path = str(tmp_path / "idx")
    built = index_build.build_index(df.filter("id % 5 != 0"), path, conf)
    _to_scalar_form(built, conf)

    # the persisted grid wins over the caller's
    idx = index_build.load_index(spark, path, EngineConfig(grid_bits=12))
    assert idx.conf == conf
    assert idx.spec == built.spec and idx.box == built.box
    assert idx.validate()
    box = BoxCols()

    def answers(live) -> None:
        got = range_query.intersects_query(idx.relation(), *W).collect()
        assert sorted(r.id for r in got) == _window_ids(live, box, W)

    pdf = rects_pdf
    answers(pdf[pdf.id % 5 != 0])

    mutations.insert_batch(idx, df.filter("id % 5 = 0"), build_id="ins-1")
    # one scalar-form and one per-axis manifest file, read as one
    assert len(M.parquet_files(idx.fs, idx.manifest_path)) == 2
    assert idx.validate()
    assert sum(r["n_rows"] for r in idx.manifest_rows()) == len(pdf)
    answers(pdf)

    mutations.delete_rows(idx, df.filter("id % 7 = 0").select("id"))
    assert idx.validate()
    answers(pdf[pdf.id % 7 != 0])
