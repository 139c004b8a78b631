import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MED = os.environ.get("SPARK_GRAFT_SF_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from maps_spark.session import get_spark
    s = get_spark("maps-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", 8),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def occ_small(spark):
    from maps_spark.sources.occurrence import occurrence_df
    return occurrence_df(spark, SF_SMALL)


def pyramid_pixels(keyed, srs, max_zoom, min_zoom=0):
    """Cascade oracle for the span engine: yield (z, pixel_table_at_z)
    from max_zoom down to min_zoom, one ``rollup`` shuffle per level —
    the reference's per-zoom pyramid shape (TileMapBuilder.java:173-204)."""
    from maps_spark.operators import pyramid as PY
    pixels = PY.pixel_table(keyed, srs, max_zoom)
    yield max_zoom, pixels
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        pixels = PY.rollup(pixels, 1)
        yield z, pixels
