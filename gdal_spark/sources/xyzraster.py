"""XYZ raster source/sink (frmts/xyz/xyzdataset.cpp).

Format: one "x y z" line per cell of a REGULAR grid (the reference
rejects irregular spacing), any separator in [ ,;\\t], optional header
line. Because every line carries its own coordinates, the read side is
embarrassingly line-parallel — spark.read.csv splits the files anywhere —
unlike the reference's sequential reader, which must scan forward to
binary-search a window (xyzdataset.cpp GetNextLine loops).

Grid inference mirrors the reference: the spacing comes from the first
block of lines (xyzdataset.cpp:700-800 derives dfXSpacing/dfYSpacing from
the first adjacent pairs), the extent from a distributed min/max
aggregate. Cells map to (col,row) by rounding against the inferred
origin; the tile table assembles with one groupBy-tile shuffle.

The sink reuses gdal2xyz (tile table -> x/y/value rows) and writes
space-separated text parts distributed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import vsi
from ..raster.tiles import pixels_to_tiles

_HEAD = 64 << 10


def infer_grid_head(path: str):
    """dx/dy from the first file's first lines (reference semantics:
    spacing from adjacent pairs; y spacing from the first y change)."""
    import glob
    import os
    cand = sorted(f for f in (glob.glob(os.path.join(path, "*"))
                              if os.path.isdir(path) else [path])
                  if not os.path.basename(f).startswith(("_", "."))
                  and vsi.fsize(f) > 0)
    head = vsi.pread(cand[0], 0, _HEAD).decode("ascii", "replace")
    rows = []
    for line in head.splitlines()[:-1]:     # last line may be truncated
        toks = line.replace(",", " ").replace(";", " ").split()
        if len(toks) < 3:
            continue
        try:
            rows.append((float(toks[0]), float(toks[1]), float(toks[2])))
        except ValueError:
            continue                        # header line
    if len(rows) < 2:
        raise ValueError("cannot infer XYZ grid from head block")
    xs = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows])
    dxs = np.abs(np.diff(xs))
    dx = float(dxs[dxs > 0].min()) if (dxs > 0).any() else 1.0
    dys = np.abs(np.diff(ys))
    dy = float(dys[dys > 0].min()) if (dys > 0).any() else dx
    return dx, dy


def read_xyz(spark: SparkSession, path: str, tile: int = 256,
             band: int = 1, nodata: float | None = None,
             sep: str = " ") -> DataFrame:
    """.xyz file(s)/directory -> (tile table, grid dict). Missing cells
    fill with `nodata` (or 0)."""
    dx, dy = infer_grid_head(path)
    df = spark.read.csv(path, sep=sep, comment="#",
                        schema="x double, y double, v double") \
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
    ext = df.agg(F.min("x").alias("x0"), F.max("y").alias("y1"),
                 F.max("x").alias("x1"), F.min("y").alias("y0")).collect()[0]
    ncols = int(round((ext.x1 - ext.x0) / dx)) + 1
    nrows = int(round((ext.y1 - ext.y0) / dy)) + 1
    grid = {"x0": ext.x0, "y_top": ext.y1, "dx": dx, "dy": dy,
            "ncols": ncols, "nrows": nrows}

    col = F.round((F.col("x") - F.lit(ext.x0)) / F.lit(dx)).cast("long")
    row = F.round((F.lit(ext.y1) - F.col("y")) / F.lit(dy)).cast("long")
    cells = df.select(col.alias("c"), row.alias("r"), "v")
    tiles = pixels_to_tiles(cells, tile, x_col="c", y_col="r", v_col="v",
                            fill=0.0 if nodata is None else nodata,
                            band=band)
    return tiles.withColumn("nodata", F.lit(nodata).cast("double")), grid


def write_xyz(tiles: DataFrame, path: str, tile: int = 256,
              grid=None, skip_nodata: bool = False) -> None:
    """Tile table -> directory of space-separated x y z part files,
    row-major within each part (one distributed text write)."""
    from ..raster.tiles import gdal2xyz

    rows = gdal2xyz(tiles, tile=tile, grid=grid, skip_nodata=skip_nodata)
    out = rows.orderBy("y", "x").select(
        F.concat_ws(" ", F.col("x").cast("string"),
                    F.col("y").cast("string"),
                    F.col("value").cast("string")).alias("value"))
    out.write.mode("overwrite").text(path)
