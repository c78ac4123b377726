import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from libspatialindex_spark.config import EngineConfig
from libspatialindex_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def conf():
    return EngineConfig(target_partitions=8)


@pytest.fixture(scope="session")
def rects_pdf(spark):
    """The derived rect fixture as pandas — the brute-force oracle side
    (mirrors test/rtree/Exhaustive.cc's multimap scan)."""
    from libspatialindex_spark.sources import testdata as td

    return td.rects(spark, SF_DIR).toPandas()


@pytest.fixture(scope="session")
def rects_rel(spark, conf):
    from libspatialindex_spark.operators.relation import SpatialRelation
    from libspatialindex_spark.sources import testdata as td

    df = td.rects(spark, SF_DIR)
    return SpatialRelation(df, conf, max_extent=(td.MAX_EXTENT, td.MAX_EXTENT))
