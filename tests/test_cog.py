"""Cloud Optimized GeoTIFF sink: IFD-first layout, overview pyramid.

Reference: frmts/gtiff/cogdriver.cpp (GDALCOGCreator — overviews halve
until one block; IFDs at the front; data smallest-overview-first).
"""
import os

import numpy as np
import pytest

from gdal_spark.raster.tiles import decode_px, encode_px
from gdal_spark.sources.geotiff import (cog_levels, count_ifds, read_gtiff,
                                        read_ifd, write_cog)
from pyspark.sql import types as T

TILE_SCHEMA_MIN = T.StructType([
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("px", T.BinaryType())])


def _tiles_df(spark, arr, tile):
    h, w = arr.shape
    rows = []
    for ty in range(0, h, tile):
        for tx in range(0, w, tile):
            blk = np.zeros((tile, tile), arr.dtype)
            sub = arr[ty:ty + tile, tx:tx + tile]
            blk[:sub.shape[0], :sub.shape[1]] = sub
            rows.append((tx // tile, ty // tile, str(arr.dtype),
                         blk.tobytes()))
    return spark.createDataFrame(rows, TILE_SCHEMA_MIN)


def _pool(a):
    return a.reshape(a.shape[0] // 2, 2, a.shape[1] // 2, 2) \
        .mean(axis=(1, 3))


def _read_level(spark, path, ifd, n, tile=8):
    out = None
    for r in read_gtiff(spark, path, tile=tile, ifd=ifd).collect():
        px = decode_px(r.px, r.dtype, tile)
        if out is None:
            out = np.zeros((n, n), px.dtype)
        out[r.tile_y * tile:(r.tile_y + 1) * tile,
            r.tile_x * tile:(r.tile_x + 1) * tile] = px
    return out


def test_cog_levels_plan():
    assert cog_levels(64, 64, 8) == [(64, 64), (32, 32), (16, 16),
                                     (8, 8)]
    assert cog_levels(100, 40, 32) == [(100, 40), (50, 20), (25, 10)]
    assert cog_levels(8, 8, 8) == [(8, 8)]


def test_cog_roundtrip_all_levels(spark, tmp_path):
    rng = np.random.RandomState(7)
    arr = rng.randint(0, 100, (64, 64)).astype(np.float64)
    path = str(tmp_path / "t.cog.tif")
    write_cog(_tiles_df(spark, arr, 8), path, 64, 64, tile=8,
              dtype="float64",
              geotransform=(-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125))
    assert count_ifds(path) == 4
    expect = arr
    for lv in range(4):
        info = read_ifd(path, lv)
        assert (info["width"], info["height"]) == (expect.shape[1],
                                                   expect.shape[0])
        tiles = read_gtiff(spark, path, tile=8, ifd=lv).collect()
        got = np.zeros_like(expect)
        for r in tiles:
            px = decode_px(r.px, r.dtype, 8)
            got[r.tile_y * 8:(r.tile_y + 1) * 8,
                r.tile_x * 8:(r.tile_x + 1) * 8] = px
        np.testing.assert_array_equal(got, expect)
        if lv < 3:
            expect = _pool(expect)


def test_cog_layout_ifds_first_data_smallest_first(spark, tmp_path):
    arr = np.arange(256, dtype=np.float64).reshape(16, 16)
    path = str(tmp_path / "l.cog.tif")
    write_cog(_tiles_df(spark, arr, 8), path, 16, 16, tile=8,
              dtype="float64")
    i0, i1 = read_ifd(path, 0), read_ifd(path, 1)
    # overview data precedes full-res data; both follow every IFD
    assert max(i1["offsets"]) < min(i0["offsets"])
    size = os.path.getsize(path)
    # full-res data runs to EOF: 4 blocks of 8*8*8 bytes
    assert max(i0["offsets"]) + 8 * 8 * 8 == size
    # geotransform only on the full-res IFD; overview flags subfile type
    assert "geotransform" not in i1


def test_cog_rejects_odd_tile(spark):
    with pytest.raises(ValueError):
        write_cog(None, "/tmp/x.tif", 10, 10, tile=7)


def test_save_raster_dispatches_cog(spark, tmp_path):
    from gdal_spark.sources import save_raster
    arr = np.arange(256, dtype=np.float64).reshape(16, 16)
    path = str(tmp_path / "d.cog.tif")
    save_raster(_tiles_df(spark, arr, 8), path, tile=8,
                dtype="float64")
    assert count_ifds(path) == 2


def test_write_ovr_sidecar_levels(spark, tmp_path):
    from gdal_spark.sources.geotiff import write_ovr
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 50, (32, 32)).astype(np.float64)
    path = str(tmp_path / "r.tif.ovr")
    n = write_ovr(_tiles_df(spark, arr, 8), path, 32, 32, tile=8)
    assert n == 2                       # 16x16, 8x8
    expect = _pool(arr)
    for lv in range(2):
        info = read_ifd(path, lv)
        assert (info["width"], info["height"]) == (expect.shape[1],
                                                   expect.shape[0])
        tiles = read_gtiff(spark, path, tile=8, ifd=lv).collect()
        got = np.zeros_like(expect)
        for r in tiles:
            px = decode_px(r.px, r.dtype, 8)
            got[r.tile_y * 8:(r.tile_y + 1) * 8,
                r.tile_x * 8:(r.tile_x + 1) * 8] = px
        np.testing.assert_array_equal(got, expect)
        expect = _pool(expect)


def test_cog_and_ovr_uint16_overview_rounds_half_up(spark, tmp_path):
    """Integer overviews round the 2x2 mean half up (GDAL overview.cpp
    AVERAGE), in the COG's first overview and the .ovr's first level."""
    from gdal_spark.sources.geotiff import write_ovr
    rng = np.random.RandomState(11)
    arr = rng.randint(0, 60000, (32, 32)).astype(np.uint16)
    sums = arr.astype(np.int64).reshape(16, 2, 16, 2).sum(axis=(1, 3))
    assert (sums % 4 == 2).any()        # exact .5 means are exercised
    want = ((sums + 2) // 4).astype(np.uint16)
    cog = str(tmp_path / "u.cog.tif")
    ovr = str(tmp_path / "u.tif.ovr")
    write_cog(_tiles_df(spark, arr, 8), cog, 32, 32, tile=8,
              dtype="uint16")
    write_ovr(_tiles_df(spark, arr, 8), ovr, 32, 32, tile=8,
              dtype="uint16")
    for path, ifd in ((cog, 1), (ovr, 0)):
        got = _read_level(spark, path, ifd, 16)
        assert got.dtype == np.uint16
        np.testing.assert_array_equal(got, want)


def test_gdaladdo_ovr_honours_resampling(spark, tmp_path):
    from gdal_spark import cli
    from gdal_spark.sources.geotiff import write_gtiff
    rng = np.random.RandomState(5)
    arr = rng.randint(0, 200, (32, 32)).astype(np.float64)
    src = str(tmp_path / "m.tif")
    write_gtiff(arr, src, tile=None, compression="none")
    assert cli.main(["gdaladdo", src, "-tile", "8", "-r", "max"]) == 0
    want = arr
    for lv in range(2):
        n = want.shape[0] // 2
        want = want.reshape(n, 2, n, 2).max(axis=(1, 3))
        np.testing.assert_array_equal(
            _read_level(spark, src + ".ovr", lv, n), want)


def test_gdaladdo_ovr_mode(spark, tmp_path):
    from gdal_spark import cli
    from gdal_spark.sources.geotiff import count_ifds, write_gtiff
    import os
    arr = np.arange(1024, dtype=np.float64).reshape(32, 32)
    src = str(tmp_path / "base.tif")
    write_gtiff(arr, src, tile=None, compression="none")
    assert cli.main(["gdaladdo", src, "-tile", "8"]) == 0
    assert os.path.exists(src + ".ovr")
    assert count_ifds(src + ".ovr") == 2


def test_gdal_footprint_cli(spark, tmp_path):
    from gdal_spark import cli
    from gdal_spark.sources import open_vector
    from gdal_spark.sources.geotiff import write_gtiff
    # two data islands on a zero (nodata) background
    arr = np.zeros((16, 16), np.float64)
    arr[1:4, 1:4] = 7.0
    arr[10:14, 9:15] = 3.0
    src = str(tmp_path / "f.tif")
    write_gtiff(arr, src, tile=None)
    dst = str(tmp_path / "fp.geojsonl")
    assert cli.main(["gdal_footprint", src, dst, "-tile", "16",
                     "-srcnodata", "0"]) == 0
    back = open_vector(spark, dst)
    # background counts as a component too (value 0 = nodata-less read);
    # the two islands must appear with their exact pixel counts
    import json
    counts = {json.loads(r.props)["n_pixels"] for r in back.collect()}
    assert {9, 24} <= counts


def test_gdaladdo_ovr_keeps_source_dtype(spark, tmp_path):
    """The .ovr sidecar keeps the source's sample type (uint8 here), and
    its first level is the half-up 2x2 integer mean."""
    from gdal_spark import cli
    from gdal_spark.sources.geotiff import write_gtiff
    arr = np.random.RandomState(6).randint(0, 256, (32, 32)) \
        .astype(np.uint8)
    src = str(tmp_path / "u8.tif")
    write_gtiff(arr, src, tile=None, compression="none")
    assert cli.main(["gdaladdo", src, "-tile", "8"]) == 0
    assert read_ifd(src + ".ovr")["dtype"] == "uint8"
    sums = arr.astype(np.int64).reshape(16, 2, 16, 2).sum(axis=(1, 3))
    got = _read_level(spark, src + ".ovr", 0, 16)
    assert got.dtype == np.uint8
    np.testing.assert_array_equal(got, (sums + 2) // 4)
