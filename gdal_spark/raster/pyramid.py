"""Overview pyramid: zoom z-1 tiles reduced from their 4 z children.

Re-expresses gdal2tiles' create_overview_tile + gcore/overview.cpp reducers
(/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:1515;
near :72-156, average/RMS :1130-1756 of /root/reference/gcore/overview.cpp)
as ONE groupBy per up to FUSE levels:

    groupBy(band, zoom, tile_x >> k, tile_y >> k)
        -> applyInPandas(reduce 2x2 level by level, emit every level)

with k = min(FUSE, levels left). A group holds at most 4**FUSE child tiles
whatever the raster size, and reduces them in numpy one level at a time, so
the per-pixel rules are exactly those of a level-by-level pyramid. Deeper
pyramids chain such shuffles: the next one reduces (and re-emits) the
previous top level and passes the lower levels through as one-row groups,
so every reducer runs once. This is the engine's one overview reducer:
build_pyramid, overview_level, write_cog and write_ovr all sit on it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import TILE_SCHEMA, decode_px, encode_px

RESAMPLINGS = ("average", "sum", "near", "min", "max", "rms")

# levels reduced per shuffle: bounds a group to 4**3 = 64 child tiles
FUSE = 3

_CHAIN_SCHEMA = T.StructType(TILE_SCHEMA.fields + [
    T.StructField("_top", T.BooleanType())])


def _reduce_parent(quads: dict, resampling: str, dtype: np.dtype,
                   nodata, fill, tile: int) -> np.ndarray:
    """One parent tile from its present child quadrants {(qx, qy): array}.

    Nodata-aware like the reference reducers (overview.cpp average excludes
    nodata-masked pixels): nodata pixels AND absent child quadrants (the
    tile table is sparse) are excluded from the reduction. A parent pixel
    with no valid contributor is nodata (0 when the band has none); over an
    absent quadrant it is `fill` when one is given."""
    big = np.zeros((2 * tile, 2 * tile), dtype=np.float64)
    present = np.zeros((2 * tile, 2 * tile), dtype=bool)
    for (qx, qy), sub in quads.items():
        big[qy * tile:(qy + 1) * tile, qx * tile:(qx + 1) * tile] = sub
        present[qy * tile:(qy + 1) * tile, qx * tile:(qx + 1) * tile] = True
    valid = present
    if nodata is not None:
        valid = valid & (big != nodata)
    b = big.reshape(tile, 2, tile, 2)
    v = valid.reshape(tile, 2, tile, 2)
    cnt = v.sum(axis=(1, 3))
    any_valid = cnt > 0
    safe_cnt = np.maximum(cnt, 1)
    if resampling == "average":
        out = (b * v).sum(axis=(1, 3)) / safe_cnt
        if np.issubdtype(dtype, np.integer):
            out = np.floor(out + 0.5)  # overview.cpp average rounds half-up
    elif resampling == "sum":
        out = (b * v).sum(axis=(1, 3))
    elif resampling == "rms":
        out = np.sqrt((b * b * v).sum(axis=(1, 3)) / safe_cnt)
    elif resampling == "min":
        out = np.where(v, b, np.inf).min(axis=(1, 3))
    elif resampling == "max":
        out = np.where(v, b, -np.inf).max(axis=(1, 3))
    else:  # near: top-left sample (overview.cpp near)
        out = b[:, 0, :, 0]
        any_valid = v[:, 0, :, 0]
    nd_fill = 0.0 if nodata is None else nodata
    if fill is not None:
        nd_fill = np.where(present[::2, ::2], nd_fill, fill)
    out = np.where(any_valid, out, nd_fill)
    return out.astype(np.float64 if resampling == "sum" else dtype)


def _chain(tiles_df: DataFrame, k: int, resampling: str, tile: int,
           fill, keep_top: bool) -> DataFrame:
    """One shuffle: every `_top` row's 2**k x 2**k tile block reduces k
    levels (each level emitted, the last flagged `_top`; the block itself
    too when `keep_top`); other rows pass through in one-row groups."""
    cols = _CHAIN_SCHEMA.fieldNames()

    def reduce_block(key, pdf):
        if not key[2]:
            return pdf[cols]
        band, zoom = int(key[0]), int(key[1])
        first = pdf.iloc[0]
        nd = first["nodata"]
        nodata = None if nd is None or np.isnan(nd) else float(nd)
        dtype = np.dtype(first["dtype"])
        level = {(int(r.tile_x), int(r.tile_y)):
                 decode_px(r.px, r.dtype, tile) for r in pdf.itertuples()}
        rows = [(band, zoom, r.tile_x, r.tile_y, r.dtype, nd, r.px, False)
                for r in pdf.itertuples()] if keep_top else []
        for j in range(1, k + 1):
            parents: dict = {}
            for (tx, ty), a in level.items():
                parents.setdefault((tx >> 1, ty >> 1), {})[
                    (tx & 1, ty & 1)] = a
            level = {p: _reduce_parent(q, resampling, dtype, nodata, fill,
                                       tile)
                     for p, q in parents.items()}
            dtype = next(iter(level.values())).dtype
            rows += [(band, zoom - j, tx, ty, str(dtype), nd, encode_px(a),
                      j == k) for (tx, ty), a in level.items()]
        return pd.DataFrame(rows, columns=cols)

    # SQL strings, not Column trees: each Column call is a py4j round trip
    return (tiles_df
            .groupBy(*(F.expr(e) for e in (
                "band", "zoom", "_top",
                f"IF(_top, shiftright(tile_x, {k}), tile_x) AS _ptx",
                f"IF(_top, shiftright(tile_y, {k}), tile_y) AS _pty")))
            .applyInPandas(reduce_block, schema=_CHAIN_SCHEMA))


def overviews(tiles_df: DataFrame, levels: int, resampling: str = "average",
              tile: int = 256, fill=None) -> DataFrame:
    """Levels 1..`levels` above `tiles_df` (zoom z-1 .. z-levels, base not
    included) in ceil(levels / FUSE) shuffles. `fill` is the value of
    parent pixels over absent child quadrants (default: nodata, else 0)."""
    if resampling not in RESAMPLINGS:
        raise ValueError(f"unknown resampling {resampling!r}")
    cur = tiles_df.selectExpr(*TILE_SCHEMA.fieldNames(), "true AS _top")
    for done in range(0, levels, FUSE):
        cur = _chain(cur, min(FUSE, levels - done), resampling, tile, fill,
                     done > 0)
    return cur.drop("_top")


def overview_level(tiles_df: DataFrame, resampling: str = "average",
                   tile: int = 256) -> DataFrame:
    """One pyramid step: input tiles at zoom z -> tiles at z-1."""
    return overviews(tiles_df, 1, resampling=resampling, tile=tile)


def build_pyramid(base: DataFrame, levels: int,
                  resampling: str = "average", tile: int = 256) -> DataFrame:
    """Full pyramid: the base tiles plus `levels` overview levels, reduced
    in ceil(levels / FUSE) bounded shuffles."""
    if levels <= 0:
        return base
    return base.unionByName(overviews(base, levels, resampling, tile))
