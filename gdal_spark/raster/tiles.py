"""Raster tile model: 'raster as a groupBy-tile relation'.

The reference's GDALDataset/GDALRasterBand (W x H array, blocked into cached
tiles — /root/reference/gcore/gdalrasterband.cpp, gcore/gdal_priv.h:1635) maps
to one DataFrame row per (band, zoom, tile_y, tile_x):

    band int, zoom int, tile_x long, tile_y long,
    dtype string, nodata double (nullable),
    px binary   -- row-major packed pixels, TILE x TILE, numpy dtype `dtype`

Pixels stay packed bytes (BinaryType) because Spark has no unsigned/complex
primitives (gcore/gdal.h:48-64 cell types); numpy inside each Arrow batch
interprets them. Tile size is a parameter (tests use small tiles; production
256) — partition sizing then follows spark.sql.files.maxPartitionBytes.

Every format reader reaches this relation the same way: it plans one task
row per byte range (a strip, a chunk, a message), `tiles_from_tasks` runs
its `decode(row)` in one mapInPandas, and `decode` reads the range through
`core.vsi.pread` and hands each decoded 2-D plane to `plane_tiles`, which
chops it into padded `tile x tile` rows. Readers own only their planning
and decoding; the chop, the padding and the frame plumbing live here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TILE = 256

TILE_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("nodata", T.DoubleType()),
    T.StructField("px", T.BinaryType()),
])


def decode_px(row_px: bytes, dtype: str, tile: int) -> np.ndarray:
    return np.frombuffer(row_px, dtype=np.dtype(dtype)).reshape(tile, tile)


def encode_px(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr).tobytes()


TILE_COLS = [f.name for f in TILE_SCHEMA.fields]


def plane_tiles(plane: np.ndarray, band: int, tx0: int, ty0: int, tile: int,
                dtype: str, nodata: float | None = None, fill=0,
                zoom: int = 0) -> list:
    """TILE_SCHEMA tuples for a 2-D plane whose top-left pixel is
    (tx0 * tile, ty0 * tile). Pixels are cast to `dtype` (the string is
    emitted as given); right/bottom edge tiles are padded with `fill`."""
    dt = np.dtype(dtype)
    nod = None if nodata is None else float(nodata)
    h, w = plane.shape
    out = []
    for j in range(-(-h // tile)):
        for i in range(-(-w // tile)):
            sub = plane[j * tile:(j + 1) * tile, i * tile:(i + 1) * tile]
            if sub.shape != (tile, tile):
                blk = np.full((tile, tile), fill, dt)
                blk[:sub.shape[0], :sub.shape[1]] = sub
                sub = blk
            out.append((band, zoom, tx0 + i, ty0 + j, dtype, nod,
                        np.ascontiguousarray(sub, dt).tobytes()))
    return out


def tiles_from_tasks(tasks: DataFrame, decode) -> DataFrame:
    """The one task-row -> tile-table mapInPandas: `decode(row)` yields
    TILE_SCHEMA tuples for one task; each Arrow batch becomes one frame
    (an empty batch, an empty frame)."""
    def run(batches):
        for pdf in batches:
            yield pd.DataFrame([t for row in pdf.itertuples(index=False)
                                for t in decode(row)], columns=TILE_COLS)

    return tasks.mapInPandas(run, TILE_SCHEMA)


def raster_to_tiles(spark: SparkSession, arr: np.ndarray, zoom: int = 0,
                    band: int = 1, tile: int = TILE,
                    nodata: float | None = None) -> DataFrame:
    """Split a full in-memory raster into a tile DataFrame (fixture/ingest
    helper; pads the right/bottom edge tiles with 0 or nodata)."""
    rows = plane_tiles(arr, band, 0, 0, tile, str(arr.dtype), nodata,
                       fill=0 if nodata is None else nodata, zoom=zoom)
    return spark.createDataFrame(pd.DataFrame(rows, columns=TILE_COLS),
                                 schema=TILE_SCHEMA)


def tiles_to_raster(df: DataFrame, tile: int = TILE) -> np.ndarray:
    """Assemble a (small) tile DataFrame back into one numpy array —
    test/debug helper only; never used in the distributed path."""
    rows = df.collect()
    if not rows:
        return np.zeros((0, 0))
    max_tx = max(r.tile_x for r in rows)
    max_ty = max(r.tile_y for r in rows)
    dtype = rows[0].dtype
    out = np.zeros(((max_ty + 1) * tile, (max_tx + 1) * tile),
                   dtype=np.dtype(dtype))
    for r in rows:
        out[r.tile_y * tile:(r.tile_y + 1) * tile,
            r.tile_x * tile:(r.tile_x + 1) * tile] = decode_px(r.px, r.dtype, tile)
    return out


def checksum_tiles(df: DataFrame, tile: int = TILE) -> DataFrame:
    """Per-tile GDAL checksum (alg/gdalchecksum.cpp semantics, reimplemented
    bit-exactly in core.checksum) — the raster correctness oracle."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from ..core.checksum import gdal_checksum

    @pandas_udf(LongType())
    def _ck(px: pd.Series, dtype: pd.Series) -> pd.Series:
        return pd.Series([
            gdal_checksum(np.frombuffer(b, dtype=np.dtype(dt)))
            for b, dt in zip(px, dtype)], dtype="int64")

    return df.withColumn("checksum", _ck(F.col("px"), F.col("dtype")))


def retile(df: DataFrame, src_tile: int, dst_tile: int) -> DataFrame:
    """gdal_retile: re-block the tile table to a different tile size
    (osgeo_utils/gdal_retile.py). Each src tile emits its sub-blocks (or
    its contribution to a larger block), then groupBy(dst tile) assembles —
    the repartition-by-tile-id shape of SURVEY §2.12."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    if dst_tile == src_tile:
        return df
    keys = ["band", "zoom", "tile_x", "tile_y"]

    def emit(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, src_tile)
                gx0 = int(r.tile_x) * src_tile
                gy0 = int(r.tile_y) * src_tile
                tx0, tx1 = gx0 // dst_tile, (gx0 + src_tile - 1) // dst_tile
                ty0, ty1 = gy0 // dst_tile, (gy0 + src_tile - 1) // dst_tile
                for ty in range(ty0, ty1 + 1):
                    for tx in range(tx0, tx1 + 1):
                        # overlap of src block with dst block, global px
                        x0 = max(gx0, tx * dst_tile)
                        x1 = min(gx0 + src_tile, (tx + 1) * dst_tile)
                        y0 = max(gy0, ty * dst_tile)
                        y1 = min(gy0 + src_tile, (ty + 1) * dst_tile)
                        sub = arr[y0 - gy0:y1 - gy0, x0 - gx0:x1 - gx0]
                        out.append((r.band, r.zoom, tx, ty, r.dtype,
                                    r.nodata, sub.tobytes(),
                                    x0 - tx * dst_tile, y0 - ty * dst_tile,
                                    x1 - x0, y1 - y0))
            yield pd.DataFrame(out, columns=[
                "band", "zoom", "tile_x", "tile_y", "dtype", "nodata",
                "px", "ox", "oy", "w", "h"])

    frag_schema = ("band int, zoom int, tile_x long, tile_y long, "
                   "dtype string, nodata double, px binary, "
                   "ox int, oy int, w int, h int")
    frags = df.mapInPandas(emit, frag_schema)

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # r0["dtype"], not r0.dtype — attribute access hits the pandas
        # Series dtype, not the column
        dt = str(pdf.iloc[0]["dtype"])
        nod = pdf.iloc[0]["nodata"]
        fill = 0.0 if nod is None or pd.isna(nod) else nod
        arr = np.full((dst_tile, dst_tile), fill, dtype=np.dtype(dt))
        for r in pdf.itertuples():
            blk = np.frombuffer(r.px, dtype=np.dtype(r.dtype)) \
                .reshape(r.h, r.w)
            arr[r.oy:r.oy + r.h, r.ox:r.ox + r.w] = blk
        nod_out = None if nod is None or pd.isna(nod) else float(nod)
        return pd.DataFrame(
            [(int(key[0]), int(key[1]), int(key[2]), int(key[3]),
              dt, nod_out, encode_px(arr))],
            columns=[f.name for f in TILE_SCHEMA.fields])

    return frags.groupBy(*keys).applyInPandas(assemble, TILE_SCHEMA)


def gdal2xyz(df: DataFrame, tile: int = TILE,
             grid=None, band: int | None = None,
             skip_nodata: bool = False) -> DataFrame:
    """gdal2xyz twin (swig/python/gdal-utils/osgeo_utils/gdal2xyz.py):
    tile table -> (band, x, y, value) rows, optionally georeferenced
    through a GridSpec (pixel-center coordinates, the utility's
    half-pixel offset) and nodata-skipped — a pure mapInPandas explode,
    no shuffle."""
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("band", T.IntegerType()),
                           T.StructField("x", T.DoubleType()),
                           T.StructField("y", T.DoubleType()),
                           T.StructField("value", T.DoubleType())])

    def explode(batches):
        jj, ii = np.meshgrid(np.arange(tile), np.arange(tile),
                             indexing="ij")
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                if band is not None and int(r.band) != band:
                    continue
                arr = decode_px(r.px, r.dtype, tile).astype(np.float64)
                px = (r.tile_x * tile + ii).astype(np.float64).ravel()
                py = (r.tile_y * tile + jj).astype(np.float64).ravel()
                v = arr.ravel()
                if skip_nodata and r.nodata is not None \
                        and not np.isnan(r.nodata):
                    keep = v != float(r.nodata)
                    px, py, v = px[keep], py[keep], v[keep]
                if grid is not None:
                    px = grid.x0 + (px + 0.5) * grid.dx
                    py = grid.y0 + (py + 0.5) * grid.dy
                frames.append(pd.DataFrame(
                    {"band": np.int32(r.band), "x": px, "y": py,
                     "value": v}))
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"band": pd.Series(dtype="int32"),
                 "x": pd.Series(dtype="float64"),
                 "y": pd.Series(dtype="float64"),
                 "value": pd.Series(dtype="float64")})

    return df.mapInPandas(explode, schema)


def raster_compare(a: DataFrame, b: DataFrame, tile: int = TILE) -> DataFrame:
    """gdalcompare twin (swig/python/gdal-utils/osgeo_utils/
    gdalcompare.py compare_band): per-band difference report between two
    tile tables — count of differing pixels, max absolute difference and
    whether the bit-exact GDAL checksums agree. Full outer join on tile
    keys: a tile present on one side only counts every pixel different."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    keys = ["band", "zoom", "tile_x", "tile_y"]
    j = a.select(*keys, F.col("dtype").alias("dtype_a"),
                 F.col("px").alias("px_a")) \
        .join(b.select(*keys, F.col("dtype").alias("dtype_b"),
                       F.col("px").alias("px_b")),
              keys, "full_outer")

    part = T.StructType([T.StructField("band", T.IntegerType()),
                         T.StructField("n_diff", T.LongType()),
                         T.StructField("max_abs", T.DoubleType())])

    def diff(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.px_a is None or r.px_b is None:
                    rows.append((int(r.band), tile * tile, float("inf")))
                    continue
                aa = decode_px(r.px_a, r.dtype_a, tile).astype(np.float64)
                bb = decode_px(r.px_b, r.dtype_b, tile).astype(np.float64)
                d = np.abs(aa - bb)
                rows.append((int(r.band), int((d != 0).sum()),
                             float(d.max())))
            yield pd.DataFrame(rows, columns=["band", "n_diff", "max_abs"]) \
                if rows else pd.DataFrame(columns=["band", "n_diff",
                                                   "max_abs"])

    d = j.mapInPandas(diff, part).groupBy("band").agg(
        F.sum("n_diff").alias("n_pixels_diff"),
        F.max("max_abs").alias("max_abs_diff"))
    ck = checksum_tiles(a, tile=tile).groupBy("band").agg(
        F.sum("checksum").alias("ck_a")).join(
        checksum_tiles(b, tile=tile).groupBy("band").agg(
            F.sum("checksum").alias("ck_b")), "band", "full_outer")
    return d.join(ck, "band", "left").select(
        "band", "n_pixels_diff", "max_abs_diff",
        (F.col("ck_a") == F.col("ck_b")).alias("checksum_equal"))


def pixels_to_tiles(px_df: DataFrame, tile: int = TILE,
                    x_col: str = "i", y_col: str = "j",
                    v_col: str = "value", dtype: str = "f8",
                    fill: float = 0.0, band: int = 1,
                    zoom: int = 0) -> DataFrame:
    """(x, y, value) pixel rows -> the engine tile table (the inverse of
    gdal2xyz/tile_pixels): one shuffle keyed by tile, per-tile numpy
    scatter. Pixels absent from the input take `fill` — the sparse-tile
    contract every sink shares."""
    import pandas as pd
    from pyspark.sql import functions as F

    keyed = px_df.select(
        F.floor(F.col(x_col) / tile).cast("long").alias("tile_x"),
        F.floor(F.col(y_col) / tile).cast("long").alias("tile_y"),
        (F.col(x_col) % tile).cast("int").alias("lx"),
        (F.col(y_col) % tile).cast("int").alias("ly"),
        F.col(v_col).cast("double").alias("v"))

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        block = np.full((tile, tile), fill, np.dtype(dtype))
        block[pdf["ly"].to_numpy(), pdf["lx"].to_numpy()] = \
            pdf["v"].to_numpy()
        return pd.DataFrame(
            [(band, zoom, tx, ty, dtype, None, encode_px(block))],
            columns=[f.name for f in TILE_SCHEMA.fields])

    return keyed.groupBy("tile_x", "tile_y").applyInPandas(build,
                                                           TILE_SCHEMA)
