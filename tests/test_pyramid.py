"""Fused overview pyramid: several levels per shuffle must give exactly the
level-by-level result. The oracle below reduces whole rasters with numpy
masked arrays, one level at a time, on a sparse tile table with a nodata
band, so the fusion boundary (levels 4 and 5 need two shuffles) is checked
pixel by pixel for every resampling."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.raster import pyramid
from gdal_spark.raster.tiles import TILE_SCHEMA, decode_px, encode_px

TILE = 4
NODATA = 7.0
ZOOM = 9


def _sparse_raster():
    """12 x 9 tiles of uint16 with nodata pixels, an all-nodata patch and
    about a third of the tiles absent (one whole 2x2 parent block too)."""
    rng = np.random.RandomState(42)
    ny, nx = 9, 12
    arr = rng.randint(0, 21, (ny * TILE, nx * TILE)).astype(np.uint16)
    arr[8:14, 20:30] = int(NODATA)
    present = rng.rand(ny, nx) > 0.35
    present[4:6, 2:4] = False
    present[0, 0] = True
    return arr, present


def _tiles_df(spark, arr, present):
    rows = []
    for ty, tx in zip(*np.nonzero(present)):
        blk = arr[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
        rows.append((1, ZOOM, int(tx), int(ty), "uint16", NODATA,
                     encode_px(blk)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=TILE_SCHEMA.fieldNames()), TILE_SCHEMA)


def _np_levels(arr, present, levels, resampling):
    """{zoom: {(tx, ty): tile}} for levels 1..levels, whole-raster numpy."""
    cur, pres, dtype = arr.astype(np.float64), present, arr.dtype
    out = {}
    for lv in range(1, levels + 1):
        ny, nx = pres.shape
        py, px = -(-ny // 2), -(-nx // 2)
        c = np.zeros((2 * py * TILE, 2 * px * TILE))
        c[:cur.shape[0], :cur.shape[1]] = cur
        p = np.zeros((2 * py, 2 * px), bool)
        p[:ny, :nx] = pres
        pix = np.repeat(np.repeat(p, TILE, 0), TILE, 1)
        blocks = c.reshape(py * TILE, 2, px * TILE, 2).transpose(0, 2, 1, 3) \
            .reshape(py * TILE, px * TILE, 4)
        mask = ~(pix & (c != NODATA)).reshape(py * TILE, 2, px * TILE, 2) \
            .transpose(0, 2, 1, 3).reshape(py * TILE, px * TILE, 4)
        m = np.ma.masked_array(blocks, mask)
        if resampling == "average":
            red = m.mean(axis=2)
            if np.issubdtype(dtype, np.integer):
                red = np.floor(red + 0.5)
        elif resampling == "sum":
            red = m.sum(axis=2)
        elif resampling == "rms":
            red = np.sqrt((m * m).mean(axis=2))
        elif resampling == "min":
            red = m.min(axis=2)
        elif resampling == "max":
            red = m.max(axis=2)
        else:
            red = m[:, :, 0]
        dtype = np.dtype(np.float64) if resampling == "sum" else dtype
        cur = np.ma.filled(red.astype(np.float64), NODATA) \
            .astype(dtype).astype(np.float64)
        pres = p.reshape(py, 2, px, 2).any(axis=(1, 3))
        out[ZOOM - lv] = {
            (int(tx), int(ty)): cur[ty * TILE:(ty + 1) * TILE,
                                    tx * TILE:(tx + 1) * TILE].astype(dtype)
            for ty, tx in zip(*np.nonzero(pres))}
    return out


@pytest.mark.parametrize("resampling", pyramid.RESAMPLINGS)
def test_fused_pyramid_matches_level_by_level(spark, resampling):
    arr, present = _sparse_raster()
    df = _tiles_df(spark, arr, present).cache()
    for levels in (4, 5):
        want = _np_levels(arr, present, levels, resampling)
        got: dict = {}
        for r in pyramid.build_pyramid(df, levels, resampling=resampling,
                                       tile=TILE).collect():
            if r.zoom < ZOOM:
                assert r.nodata == NODATA
                got.setdefault(r.zoom, {})[(r.tile_x, r.tile_y)] = \
                    decode_px(r.px, r.dtype, TILE)
        assert sorted(got) == sorted(want)
        for z, tiles_at_z in want.items():
            assert sorted(got[z]) == sorted(tiles_at_z), (levels, z)
            for key, tile in tiles_at_z.items():
                assert got[z][key].dtype == tile.dtype
                np.testing.assert_array_equal(got[z][key], tile,
                                              err_msg=f"{levels} {z} {key}")
    df.unpersist()


def test_fused_plan_shape(spark):
    """Up to three levels per shuffle: one pandas reducer for levels <= 3,
    two for 4-6, each appearing once in the optimized plan."""
    arr, present = _sparse_raster()
    df = _tiles_df(spark, arr, present)
    for levels, want in ((1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 2)):
        plan = pyramid.build_pyramid(df, levels, tile=TILE) \
            ._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("FlatMapGroupsInPandas") == want, levels
