"""Broadcast point-in-polygon join: worker-side state across calls."""

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from gdal_spark import datagen
from gdal_spark.core import wkb
from gdal_spark.operators import spatial_join

_REGION = T.StructType([
    T.StructField("region_id", T.LongType()),
    T.StructField("geom", T.BinaryType()),
    T.StructField("cells", T.ArrayType(T.LongType())),
    T.StructField("in_masks", T.ArrayType(T.LongType())),
    T.StructField("out_masks", T.ArrayType(T.LongType())),
])


def _region(spark, geom):
    cells, ins, outs = datagen._cover_with_masks(geom, datagen.PIP_ZOOM)
    return spark.createDataFrame([(7, geom, cells, ins, outs)], _REGION)


def test_back_to_back_joins_do_not_share_decoded_geometry(spark):
    """Two broadcasts that reuse region_id 7 with different polygons: each
    join must test its own polygon. Every point lies in a boundary subcell,
    so all of them go through the exact test."""
    rng = np.random.default_rng(7)
    lon = rng.uniform(9.9, 10.0, 20_000)
    lat = rng.uniform(1.0, 9.0, 20_000)
    points = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    first = spatial_join.pip_join(
        points, _region(spark, wkb.box(0, 0, 10, 10)),
        zoom=datagen.PIP_ZOOM).count()
    second = spatial_join.pip_join(
        points, _region(spark, wkb.box(0, 0, 9.95, 10)),
        zoom=datagen.PIP_ZOOM).count()
    assert first == 20_000
    assert second == int((lon < 9.95).sum())
