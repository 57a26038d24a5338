"""Raster band statistics + histogram over the tile table.

Re-expresses GDALRasterBand::ComputeStatistics and GetHistogram
(/root/reference/gcore/gdalrasterband.cpp — exact pass over all blocks,
nodata-masked) as per-tile PARTIALS combined in one JVM aggregation: each
tile contributes (n, sum, sumsq, min, max) resp. its bucket counts, and the
groupBy(band) combine is pure column math — the classic two-level
aggregation that makes a 100 TB statistics pass one shuffle of a few
numbers per tile.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import decode_px

_PART_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("n", T.LongType()),
    T.StructField("s", T.DoubleType()),
    T.StructField("s2", T.DoubleType()),
    T.StructField("mn", T.DoubleType()),
    T.StructField("mx", T.DoubleType()),
])


def band_statistics(tiles_df: DataFrame, tile: int = 256) -> DataFrame:
    """(band, n_valid, min, max, mean, stddev) — exact (not approximate),
    nodata-excluded, population stddev (ComputeStatistics semantics)."""

    def partials(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, tile).astype(np.float64)
                if r.nodata is not None and not np.isnan(r.nodata):
                    arr = arr[arr != float(r.nodata)]
                if arr.size == 0:
                    continue
                rows.append((int(r.band), int(arr.size), float(arr.sum()),
                             float((arr * arr).sum()), float(arr.min()),
                             float(arr.max())))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              _PART_SCHEMA.fields]) \
                if rows else pd.DataFrame(columns=[f.name for f in
                                                   _PART_SCHEMA.fields])

    p = tiles_df.mapInPandas(partials, _PART_SCHEMA)
    agg = p.groupBy("band").agg(
        F.sum("n").alias("n_valid"), F.sum("s").alias("_s"),
        F.sum("s2").alias("_s2"), F.min("mn").alias("min"),
        F.max("mx").alias("max"))
    mean = F.col("_s") / F.col("n_valid")
    var = F.col("_s2") / F.col("n_valid") - mean * mean
    return agg.select("band", "n_valid", "min", "max",
                      mean.alias("mean"),
                      F.sqrt(F.greatest(var, F.lit(0.0))).alias("stddev"))


_HIST_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("n", T.LongType()),
])


def band_histogram(tiles_df: DataFrame, lo: float, hi: float,
                   nbuckets: int, tile: int = 256,
                   include_out_of_range: bool = False) -> DataFrame:
    """(band, bucket, n) — GDALGetRasterHistogram semantics: bucket i spans
    [lo + i*w, lo + (i+1)*w) with w = (hi-lo)/nbuckets; out-of-range pixels
    clamp into the end buckets when include_out_of_range, else drop."""
    w = (hi - lo) / nbuckets

    def partials(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, tile).astype(np.float64)
                if r.nodata is not None and not np.isnan(r.nodata):
                    arr = arr[arr != float(r.nodata)]
                b = np.floor((arr - lo) / w).astype(np.int64)
                if include_out_of_range:
                    b = np.clip(b, 0, nbuckets - 1)
                else:
                    keep = (b >= 0) & (b < nbuckets)
                    b = b[keep]
                if b.size == 0:
                    continue
                vals, cnts = np.unique(b, return_counts=True)
                for v, c in zip(vals, cnts):
                    rows.append((int(r.band), int(v), int(c)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              _HIST_SCHEMA.fields]) \
                if rows else pd.DataFrame(columns=[f.name for f in
                                                   _HIST_SCHEMA.fields])

    return tiles_df.mapInPandas(partials, _HIST_SCHEMA) \
        .groupBy("band", "bucket").agg(F.sum("n").alias("n"))


_CALC_NODES = (
    "Expression", "BinOp", "UnaryOp", "Call", "Compare", "IfExp",
    "Name", "Constant", "Load", "Tuple", "Subscript", "Slice",
    # arithmetic / bitwise (numpy elementwise logic uses & | ^ ~)
    "Add", "Sub", "Mult", "Div", "FloorDiv", "Mod", "Pow",
    "USub", "UAdd", "Invert", "BitAnd", "BitOr", "BitXor",
    "Lt", "LtE", "Gt", "GtE", "Eq", "NotEq",
)


def _validate_calc_expr(expr: str, allowed_funcs: set) -> None:
    """eval() with an empty __builtins__ is NOT a sandbox (dunder-attribute
    escapes reach arbitrary code), so reject anything outside the pure
    band-algebra grammar before evaluating: literals, band names (single
    capitals), whitelisted numpy calls, arithmetic/comparison/bitwise ops,
    subscripts. Attribute access and statements are refused outright."""
    import ast

    tree = ast.parse(expr, mode="eval")
    for node in ast.walk(tree):
        kind = type(node).__name__
        if kind not in _CALC_NODES:
            raise ValueError(
                f"band_calc: disallowed syntax {kind!r} in expr {expr!r}")
        if isinstance(node, ast.Call):
            if not isinstance(node.func, ast.Name) or node.keywords:
                raise ValueError(
                    f"band_calc: only bare calls to {sorted(allowed_funcs)}"
                    f" are allowed in expr {expr!r}")
            if node.func.id not in allowed_funcs:
                raise ValueError(
                    f"band_calc: unknown function {node.func.id!r}")
        if isinstance(node, ast.Name):
            ok = node.id in allowed_funcs or (
                len(node.id) == 1 and "A" <= node.id <= "Z")
            if not ok:
                raise ValueError(
                    f"band_calc: unknown name {node.id!r} in expr {expr!r}")


def band_calc(tiles_df: DataFrame, expr: str, tile: int = 256,
              out_band: int = 1, out_dtype: str = "float64") -> DataFrame:
    """gdal_calc.py band algebra (swig/python/gdal-utils/osgeo_utils/
    gdal_calc.py): evaluate a numpy expression over per-tile band arrays.
    Bands join by (zoom, tile_x, tile_y); the expression sees each band as
    variable A, B, C... (band 1 = A) plus the numpy namespace — one
    applyInPandas per tile, no shuffle beyond the band co-grouping."""
    from .tiles import TILE_SCHEMA, encode_px

    allowed = {k: getattr(np, k) for k in
               ("sqrt", "abs", "exp", "log", "log10", "sin", "cos", "tan",
                "arctan", "arctan2", "hypot", "minimum", "maximum", "where",
                "clip", "floor", "ceil", "round", "power", "sign", "pi")}
    _validate_calc_expr(expr, set(allowed))

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        zoom, tx, ty = int(key[0]), int(key[1]), int(key[2])
        env = dict(allowed)
        for r in pdf.itertuples():
            name = chr(ord("A") + int(r.band) - 1)
            env[name] = decode_px(r.px, r.dtype, tile).astype(np.float64)
        out = eval(expr, {"__builtins__": {}}, env)   # noqa: S307 —
        # restricted namespace: numpy funcs + band arrays only
        out = np.broadcast_to(np.asarray(out, dtype=np.dtype(out_dtype)),
                              (tile, tile))
        return pd.DataFrame([(out_band, zoom, tx, ty, out_dtype, None,
                              encode_px(np.ascontiguousarray(out)))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    return tiles_df.groupBy("zoom", "tile_x", "tile_y") \
        .applyInPandas(combine, TILE_SCHEMA)


def zonal_statistics(tiles_df: DataFrame, regions: DataFrame,
                     x0: float, y0: float, dx: float, dy: float,
                     tile: int = 256, zoom: int = 4) -> DataFrame:
    """Zonal statistics — the classic raster x vector aggregation (the
    reference composes it from gdal_rasterize + ComputeStatistics; GIS
    suites ship it as 'zonal stats'): per polygon zone, the
    count/sum/mean/min/max of the raster cells whose CENTER falls
    inside the zone.

    Spark shape: tiles explode to pixel-center points (pure column math
    off the tile ids — one map stage fused into the tile scan), then the
    ENGINE point-in-polygon path (cell-cover broadcast join + bitmask
    accept/reject + exact ray-cast) assigns zones, and one map-side-
    combined groupBy(zone) folds the statistics. At 100 TB the pixel
    stream never materializes: it is a projection of the tile table that
    flows straight into the broadcast hash join."""
    from ..operators import spatial_join
    from .tiles import gdal2xyz

    px = gdal2xyz(tiles_df, tile=tile)
    pts = px.select(
        "value",
        (x0 + (F.col("x") + 0.5) * dx).alias("lon"),
        (y0 + (F.col("y") + 0.5) * dy).alias("lat"))
    hits = spatial_join.pip_join(pts, regions, zoom=zoom)
    vd = F.col("value").cast("decimal(28,6)")
    return (hits.groupBy("region_id")
            .agg(F.count("*").cast("long").alias("n_cells"),
                 F.round(F.sum(vd), 6).cast("double").alias("sum_v"),
                 F.round(F.sum(vd).cast("double") / F.count("*"), 9)
                 .alias("mean_v"),
                 F.min("value").alias("min_v"),
                 F.max("value").alias("max_v")))
