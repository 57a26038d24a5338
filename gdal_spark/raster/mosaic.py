"""Mosaic / composite multiple rasters; raster footprint.

Mosaic re-expresses gdal_merge.py (/root/reference/swig/python/gdal-utils/
osgeo_utils/gdal_merge.py — last-on-top compositing, nodata-aware) as a
groupBy-tile ordered reduce: sources carry a `seq` column; within a tile,
pixels take the value of the HIGHEST seq source that is not nodata.

Footprint re-expresses gdal_footprint (/root/reference/apps/
gdal_footprint_lib.cpp — data-mask polygons) by composing polygonize over
the binarized mask; output is one row per connected data region with its
pixel-space envelope as a WKB box (full ring tracing is the documented
polygonize divergence).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import wkb
from .polygonize import polygonize
from .tiles import TILE_SCHEMA, decode_px, encode_px


def mosaic(sources: DataFrame, tile: int = 256,
           nodata: float = 0.0) -> DataFrame:
    """sources: tile table + `seq` int column (compositing order; higher
    wins). Returns the composited tile table."""
    keys = ["band", "zoom", "tile_x", "tile_y"]

    def compose(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq")
        out = None
        dtype = None
        for r in pdf.itertuples():
            arr = decode_px(r.px, r.dtype, tile)
            dtype = r.dtype
            if out is None:
                out = np.full_like(arr, np.array(nodata, arr.dtype))
            m = arr != np.array(nodata, arr.dtype)
            out[m] = arr[m]
        return pd.DataFrame(
            [(int(key[0]), int(key[1]), int(key[2]), int(key[3]),
              dtype, float(nodata), encode_px(out))],
            columns=[f.name for f in TILE_SCHEMA.fields])

    return sources.groupBy(*keys).applyInPandas(compose, TILE_SCHEMA)


_FOOT_SCHEMA = T.StructType([
    T.StructField("comp_id", T.LongType()),
    T.StructField("n_pixels", T.LongType()),
    T.StructField("geom", T.BinaryType()),
])


def footprint(tiles_df: DataFrame, tile: int = 256) -> DataFrame:
    """Connected data regions (pixel != nodata) -> (comp_id, n_pixels,
    envelope WKB polygon in pixel space)."""

    def binarize(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, tile)
                nod = r.nodata
                valid = np.ones_like(arr, dtype=bool) if nod is None or \
                    np.isnan(nod) else arr != np.array(nod, arr.dtype)
                out.append((r.band, r.zoom, r.tile_x, r.tile_y, "uint8",
                            0.0, encode_px(valid.astype(np.uint8))))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    mask = tiles_df.mapInPandas(binarize, TILE_SCHEMA)
    comps = polygonize(mask, tile=tile)

    @F.pandas_udf(T.BinaryType())
    def box_wkb(x0: pd.Series, y0: pd.Series, x1: pd.Series,
                y1: pd.Series) -> pd.Series:
        return pd.Series([wkb.box(float(a), float(b), float(c) + 1.0,
                                  float(d) + 1.0)
                          for a, b, c, d in zip(x0, y0, x1, y1)])

    return comps.select(
        "comp_id", "n_pixels",
        box_wkb("px_xmin", "px_ymin", "px_xmax", "px_ymax").alias("geom"))


def pansharpen(ms_tiles: DataFrame, pan_tiles: DataFrame,
               weights: list[float] | None = None,
               tile: int = 256) -> DataFrame:
    """Weighted-Brovey pansharpening (alg/gdalpansharpen.cpp, the
    GDALCreatePansharpenedVRT kernel): out_i = ms_i * pan / pseudo_pan with
    pseudo_pan = sum(w_j * ms_j). The multispectral bands must already be
    resampled to the pan grid (use warp upsampling) — this stage is the
    per-pixel combine, a single groupBy(tile) with no further shuffle.

    ms_tiles: tile table with bands 1..N; pan_tiles: band 1 at the same
    (zoom, tile_x, tile_y) grid. Output: bands 1..N sharpened (float64).
    """
    from .tiles import TILE_SCHEMA, decode_px, encode_px

    pan = pan_tiles.select("zoom", "tile_x", "tile_y",
                           F.col("px").alias("_pan_px"),
                           F.col("dtype").alias("_pan_dtype"))
    joined = ms_tiles.join(pan, ["zoom", "tile_x", "tile_y"])

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        zoom, tx, ty = int(key[0]), int(key[1]), int(key[2])
        pan_arr = decode_px(pdf.iloc[0]["_pan_px"],
                            pdf.iloc[0]["_pan_dtype"], tile)
        bands = sorted(pdf["band"].unique())
        w = weights if weights is not None else [1.0 / len(bands)] * len(bands)
        ms = {int(r.band): decode_px(r.px, r.dtype, tile)
              for r in pdf.itertuples()}
        pseudo = np.zeros_like(pan_arr, dtype=np.float64)
        for wi, b in zip(w, bands):
            pseudo += wi * ms[int(b)]
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(pseudo != 0, pan_arr / pseudo, 0.0)
        out = []
        for b in bands:
            sharp = ms[int(b)] * ratio
            out.append((int(b), zoom, tx, ty, "float64", None,
                        encode_px(sharp.astype(np.float64))))
        return pd.DataFrame(out, columns=[f.name for f in
                                          TILE_SCHEMA.fields])

    return joined.groupBy("zoom", "tile_x", "tile_y") \
        .applyInPandas(combine, TILE_SCHEMA)
