"""Distributed rasterize: burn vector geometries into the tile table.

Re-expresses GDALRasterizeGeometries (/root/reference/alg/gdalrasterize.cpp:825;
per-shape burn :534 gv_rasterize_one_shape; options :743-781 — ALL_TOUCHED,
MERGE_ALG=REPLACE/ADD) as:

    geometry -> tile-cover explode  ->  groupBy(tile)  ->  applyInPandas burn

Each task burns every geometry overlapping ONE tile into a numpy array:
polygon fill = pixel-center even-odd rule (same rule as the reference's
scanline fill, alg/llrasterize.cpp, evaluated vectorized instead of per
scanline); ALL_TOUCHED adds a supercover line walk over the boundary.
Burn order inside a tile follows the caller's `seq` column so
MERGE_ALG=REPLACE is deterministic ('last feature wins', the reduce-order
contract SURVEY.md §2.11 notes).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import wkb
from ..core.geomops import points_in_polygon
from .tiles import TILE_SCHEMA, encode_px


@dataclass(frozen=True)
class GridSpec:
    """Target raster grid — GDAL geotransform semantics (north-up):
    x = x0 + px * dx ; y = y0 + py * dy with dy < 0."""
    x0: float
    y0: float
    dx: float
    dy: float          # negative for north-up
    width: int         # pixels
    height: int
    tile: int = 256

    def world_to_px(self, x, y):
        return (np.asarray(x) - self.x0) / self.dx, (np.asarray(y) - self.y0) / self.dy

    def n_tiles(self):
        return -(-self.width // self.tile), -(-self.height // self.tile)


def _cover_tiles(env, grid: GridSpec):
    """Tile index ranges intersecting an envelope (xmin,ymin,xmax,ymax)."""
    pxs, pys = grid.world_to_px([env[0], env[2]], [env[1], env[3]])
    px0, px1 = sorted((float(pxs[0]), float(pxs[1])))
    py0, py1 = sorted((float(pys[0]), float(pys[1])))
    ntx, nty = grid.n_tiles()
    tx0 = max(int(np.floor(px0)) // grid.tile, 0)
    tx1 = min(int(np.ceil(px1)) // grid.tile, ntx - 1)
    ty0 = max(int(np.floor(py0)) // grid.tile, 0)
    ty1 = min(int(np.ceil(py1)) // grid.tile, nty - 1)
    return tx0, tx1, ty0, ty1


def _supercover_px(x0, y0, x1, y1):
    """Integer pixels crossed by segment (in pixel coords) — the ALL_TOUCHED
    walk (dense sampling at sub-pixel step; deterministic)."""
    n = int(max(abs(x1 - x0), abs(y1 - y0)) * 3) + 2
    t = np.linspace(0.0, 1.0, n)
    xs = np.floor(x0 + (x1 - x0) * t).astype(np.int64)
    ys = np.floor(y0 + (y1 - y0) * t).astype(np.int64)
    return xs, ys


def _burn_geom_into(arr, g, burn, grid: GridSpec, tx, ty,
                    merge_add: bool, all_touched: bool):
    t = grid.tile
    ox, oy = tx * t, ty * t  # tile origin in global pixels

    def put(pxs, pys, dedupe=False):
        m = (pxs >= ox) & (pxs < ox + t) & (pys >= oy) & (pys < oy + t)
        if not m.any():
            return
        xs, ys = pxs[m] - ox, pys[m] - oy
        if merge_add:
            if dedupe:
                # gv_rasterize_one_shape adds the burn exactly once per pixel
                # per shape; the supercover walk samples ~3 pts/pixel, so
                # collapse duplicates before accumulating
                key = np.unique(ys * np.int64(t) + xs)
                ys, xs = key // t, key % t
            np.add.at(arr, (ys, xs), burn)
        else:
            arr[ys, xs] = burn

    if g.gtype in (wkb.POINT, wkb.MULTIPOINT):
        pts = g.points()
        px, py = grid.world_to_px(pts[:, 0], pts[:, 1])
        put(np.floor(px).astype(np.int64), np.floor(py).astype(np.int64))
        return

    rings_for_lines = []
    if g.gtype == wkb.LINESTRING:
        rings_for_lines = g.rings
    for p in g.parts:
        if p.gtype == wkb.LINESTRING:
            rings_for_lines.extend(p.rings)

    if rings_for_lines:
        # gather every pixel the line shape crosses, then burn once per
        # pixel (dedupe across segments too — a vertex shared by two
        # segments must not double-add under MERGE_ALG=ADD)
        lxs, lys = [], []
        for r in rings_for_lines:
            px, py = grid.world_to_px(r[:, 0], r[:, 1])
            for i in range(len(r) - 1):
                xs, ys = _supercover_px(px[i], py[i], px[i + 1], py[i + 1])
                lxs.append(xs)
                lys.append(ys)
        put(np.concatenate(lxs), np.concatenate(lys), dedupe=True)

    polys = g.polygons()
    if not polys:
        return
    # pixel centers of this tile, world coords
    jj, ii = np.meshgrid(np.arange(t), np.arange(t))  # ii=row(y), jj=col(x)
    cx = grid.x0 + (ox + jj + 0.5) * grid.dx
    cy = grid.y0 + (oy + ii + 0.5) * grid.dy
    inside = np.zeros((t, t), dtype=bool)
    for rings in polys:
        inside |= points_in_polygon(cx.ravel(), cy.ravel(), rings).reshape(t, t)
    if all_touched:
        for rings in polys:
            for r in rings:
                px, py = grid.world_to_px(r[:, 0], r[:, 1])
                for i in range(len(r) - 1):
                    xs, ys = _supercover_px(px[i], py[i], px[i + 1], py[i + 1])
                    m = (xs >= ox) & (xs < ox + t) & (ys >= oy) & (ys < oy + t)
                    inside[ys[m] - oy, xs[m] - ox] = True
    if merge_add:
        arr[inside] += burn
    else:
        arr[inside] = burn


def rasterize(geoms: DataFrame, grid: GridSpec, merge_alg: str = "replace",
              all_touched: bool = False, dtype: str = "float64",
              init: float = 0.0, band: int = 1, zoom: int = 0,
              invert: bool = False,
              invert_burn: float = 1.0) -> DataFrame:
    """geoms: DF with (geom binary, burn double, seq long). Returns the tile
    table (only tiles touched by >=1 geometry; fully-empty tiles are implicit,
    i.e. the relation is sparse — at 100 TB materializing ocean tiles would
    dominate, so sinks fill `init` on read).

    invert=True is gdal_rasterize -i (gdalrasterize.cpp options): burn
    `invert_burn` OUTSIDE all geometries, leave covered pixels at `init`.
    Inversion materializes EVERY grid tile (uncovered tiles are all-burn),
    so the output is dense — use on bounded grids."""
    merge_add = {"replace": False, "add": True}[merge_alg]
    spark = geoms.sparkSession
    tile = grid.tile

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cover_keys(geom: pd.Series) -> pd.Series:
        out = []
        for b in geom:
            g = wkb.decode(bytes(b))
            env = g.envelope()
            if env is None:
                out.append([])
                continue
            tx0, tx1, ty0, ty1 = _cover_tiles(env, grid)
            out.append([(tx << 32) | ty
                        for ty in range(ty0, ty1 + 1)
                        for tx in range(tx0, tx1 + 1)])
        return pd.Series(out)

    cand = (geoms.withColumn("_k", F.explode(cover_keys(F.col("geom"))))
            .withColumn("tile_x", F.shiftright("_k", 32))
            .withColumn("tile_y", F.col("_k").bitwiseAND(F.lit(0xFFFFFFFF)))
            .drop("_k"))
    if invert:
        ntx, nty = grid.n_tiles()
        allt = (spark.range(ntx).select(F.col("id").alias("tile_x"))
                .crossJoin(spark.range(nty)
                           .select(F.col("id").alias("tile_y")))
                .withColumn("geom", F.lit(None).cast("binary"))
                .withColumn("burn", F.lit(float(invert_burn)))
                .withColumn("seq", F.lit(-1).cast("long")))
        cand = cand.select("geom", "burn", "seq", "tile_x", "tile_y")             .unionByName(allt)

    def burn_tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        if invert:
            cover = np.zeros((tile, tile), dtype=bool)
            for row in pdf.sort_values("seq").itertuples():
                if row.geom is None:
                    continue
                _burn_geom_into(cover, wkb.decode(bytes(row.geom)), True,
                                grid, tx, ty, False, all_touched)
            arr = np.where(cover, init, invert_burn)                 .astype(np.dtype(dtype))
        else:
            arr = np.full((tile, tile), init, dtype=np.dtype(dtype))
            for row in pdf.sort_values("seq").itertuples():
                g = wkb.decode(bytes(row.geom))
                _burn_geom_into(arr, g, row.burn, grid, tx, ty,
                                merge_add, all_touched)
        return pd.DataFrame([{
            "band": band, "zoom": zoom, "tile_x": tx, "tile_y": ty,
            "dtype": dtype, "nodata": None, "px": encode_px(arr)}])

    return (cand.groupBy("tile_x", "tile_y")
            .applyInPandas(burn_tile, schema=TILE_SCHEMA))
