"""Command-line front doors — thin argparse twins of the reference apps
(apps/ogr2ogr_bin.cpp, ogrinfo_bin.cpp, gdalinfo_bin.cpp) over the
engine's public API, so a reference user's shell workflow ports 1:1:

    python -m gdal_spark.cli ogr2ogr out.geojsonl in.shp \
        -t_srs EPSG:3857 -where "doc_id % 2 = 0" -simplify 0.01
    python -m gdal_spark.cli ogrinfo -so layer.fgb
    python -m gdal_spark.cli gdalinfo raster.tif

Everything between Open() and save_vector() is one lazy DataFrame plan;
the CLI adds no execution model of its own (the reference's apps are the
same thin shells over GDALVectorTranslate / ReportOnLayer)."""

from __future__ import annotations

import argparse
import os
import json
import sys


def _spark():
    from .session import get_spark
    return get_spark("gdal-spark-cli")


def _cmd_ogr2ogr(argv) -> int:
    ap = argparse.ArgumentParser(prog="ogr2ogr")
    ap.add_argument("dst")
    ap.add_argument("src")
    ap.add_argument("-t_srs")
    ap.add_argument("-s_srs", default="EPSG:4326")
    ap.add_argument("-where")
    ap.add_argument("-select", help="comma-separated attribute list")
    ap.add_argument("-sql", help="OGRSQL over the source (table `src`)")
    ap.add_argument("-simplify", type=float)
    ap.add_argument("-segmentize", type=float)
    ap.add_argument("-explodecollections", action="store_true")
    ap.add_argument("-makevalid", action="store_true")
    ap.add_argument("-wrapdateline", action="store_true")
    ap.add_argument("-nlt", choices=["PROMOTE_TO_MULTI"])
    ap.add_argument("-clipsrc", nargs=4, type=float,
                    metavar=("XMIN", "YMIN", "XMAX", "YMAX"))
    ap.add_argument("-clipdst", nargs=4, type=float,
                    metavar=("XMIN", "YMIN", "XMAX", "YMAX"))
    a = ap.parse_args(argv)

    from .operators.translate import TranslateOptions, translate
    from .sources import open_vector, save_vector

    spark = _spark()
    df = open_vector(spark, a.src)
    if a.sql:
        from .sql import OgrSqlEngine
        eng = OgrSqlEngine(spark)
        eng.register("src", df)
        df = eng.sql(a.sql)
    if a.where:
        df = df.where(a.where)
    if a.select:
        keep = [c.strip() for c in a.select.split(",")]
        df = df.select(*(keep + ["geom"]))
    opts = TranslateOptions(
        explode_collections=a.explodecollections,
        make_valid=a.makevalid,
        segmentize=a.segmentize, simplify=a.simplify,
        clip_src=tuple(a.clipsrc) if a.clipsrc else None,
        src_crs=a.s_srs if a.t_srs else None,
        dst_crs=a.t_srs,
        clip_dst=tuple(a.clipdst) if a.clipdst else None,
        wrapdateline=a.wrapdateline,
        promote_to_multi=a.nlt == "PROMOTE_TO_MULTI")
    if any([opts.explode_collections, opts.make_valid, opts.segmentize,
            opts.simplify, opts.clip_src, opts.dst_crs, opts.clip_dst,
            opts.wrapdateline, opts.promote_to_multi]):
        df = translate(df, opts)
    save_vector(df, a.dst)
    print(json.dumps({"written": a.dst}))
    return 0


def _cmd_ogrinfo(argv) -> int:
    ap = argparse.ArgumentParser(prog="ogrinfo")
    ap.add_argument("src")
    ap.add_argument("-so", action="store_true",
                    help="summary only (the only mode; kept for parity)")
    a = ap.parse_args(argv)
    from .operators.info import layer_info
    from .sources import open_vector
    spark = _spark()
    df = open_vector(spark, a.src)
    row = layer_info(df, name=a.src).collect()[0]
    print(json.dumps(row.asDict(), default=str))
    return 0


def _cmd_gdalinfo(argv) -> int:
    ap = argparse.ArgumentParser(prog="gdalinfo")
    ap.add_argument("src")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-stats", action="store_true",
                    help="persist band statistics to <src>.aux.xml "
                         "(the reference's PAM SetStatistics)")
    a = ap.parse_args(argv)
    from .operators.info import raster_info
    from .sources import open_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    rows = [r.asDict() for r in raster_info(t, tile=a.tile).collect()]
    out = {"bands": rows}
    from .sources.pam import read_pam, write_pam
    if a.stats:
        stats = {int(r["band"]): {
            "minimum": r["min"], "maximum": r["max"],
            "mean": r["mean"], "stddev": r["stddev"]} for r in rows}
        out["pam_written"] = write_pam(a.src, band_stats=stats)
    pam = read_pam(a.src)
    if pam:                                  # PAM sidecar overlays
        out["pam"] = {k: v for k, v in pam.items() if v}
    print(json.dumps(out, default=str))
    return 0


def _cmd_gdalsrsinfo(argv) -> int:
    ap = argparse.ArgumentParser(prog="gdalsrsinfo")
    ap.add_argument("srs", help="EPSG:code / proj string / WKT")
    ap.add_argument("-o", choices=["all", "proj4", "wkt"], default="all")
    a = ap.parse_args(argv)
    from .raster.transforms import srs_info
    info = srs_info(a.srs)
    if a.o == "proj4":
        print(info["proj4"])
    elif a.o == "wkt":
        print(info["wkt"])
    else:
        print(json.dumps({"proj4": info["proj4"], "wkt": info["wkt"]}))
    return 0


def _cmd_gdaltransform(argv) -> int:
    """Batch coordinate transform (apps/gdaltransform.cpp): reads 'x y'
    pairs from stdin, writes transformed pairs — vectorized as ONE numpy
    call over the whole batch, not per line."""
    ap = argparse.ArgumentParser(prog="gdaltransform")
    ap.add_argument("-s_srs", default="EPSG:4326")
    ap.add_argument("-t_srs", required=True)
    ap.add_argument("-output_xy", action="store_true")
    a = ap.parse_args(argv)
    import numpy as np
    from .raster.transforms import transform
    rows = [line.split() for line in sys.stdin if line.strip()]
    xs = np.array([float(r[0]) for r in rows])
    ys = np.array([float(r[1]) for r in rows])
    ox, oy = transform(a.s_srs, a.t_srs, xs, ys)
    for x, y in zip(ox, oy):
        print(f"{x!r} {y!r}")
    return 0


def _cmd_gdallocationinfo(argv) -> int:
    """Pixel lookup (apps/gdallocationinfo.cpp): -valonly nearest-pixel
    values at the given pixel/line coordinates."""
    ap = argparse.ArgumentParser(prog="gdallocationinfo")
    ap.add_argument("src")
    ap.add_argument("x", type=float)
    ap.add_argument("y", type=float)
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-valonly", action="store_true")
    a = ap.parse_args(argv)
    from .raster.sample import interpolate_at_points, tile_pixels
    from .sources import open_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    px = tile_pixels(t, tile=a.tile)
    pts = spark.createDataFrame([(a.x + 0.5, a.y + 0.5)], "x double, y double")
    v = interpolate_at_points(px, pts, "x", "y", mode="near") \
        .collect()[0]["value"]
    print(v if a.valonly else json.dumps(
        {"pixel": int(a.x), "line": int(a.y), "value": v}))
    return 0


def _cmd_gdal_polygonize(argv) -> int:
    """apps twin of gdal_polygonize.py: raster -> polygon features with
    a DN attribute, traced rings (holes included)."""
    ap = argparse.ArgumentParser(prog="gdal_polygonize")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-connect", type=int, choices=(4, 8), default=4)
    ap.add_argument("-nodata", type=float, default=None)
    a = ap.parse_args(argv)
    from .raster.polygonize import polygonize_polygons
    from .sources import open_raster, save_vector
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    polys = polygonize_polygons(t, tile=a.tile, nodata=a.nodata,
                                connect=a.connect)
    out = polys.selectExpr("comp_id as fid", "geom",
                           "cast(value as double) as DN")
    save_vector(out, a.dst)
    return 0


def _cmd_gdal_sieve(argv) -> int:
    ap = argparse.ArgumentParser(prog="gdal_sieve")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-st", type=int, required=True, dest="threshold")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-connect", type=int, choices=(4, 8), default=4)
    a = ap.parse_args(argv)
    from .raster.sieve import sieve
    from pyspark.sql import functions as F

    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    save_raster(sieve(t, a.threshold, tile=a.tile, connect=a.connect),
                a.dst, tile=a.tile)
    return 0


def _cmd_gdal_fillnodata(argv) -> int:
    ap = argparse.ArgumentParser(prog="gdal_fillnodata")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-md", type=int, default=16, dest="max_dist")
    ap.add_argument("-si", type=int, default=0, dest="smoothing")
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from .raster.fillnodata import fillnodata
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    save_raster(fillnodata(t, a.max_dist, smoothing=a.smoothing,
                           tile=a.tile), a.dst, tile=a.tile)
    return 0


def _cmd_gdaldem(argv) -> int:
    ap = argparse.ArgumentParser(prog="gdaldem")
    ap.add_argument("mode", choices=("hillshade", "slope", "aspect",
                                     "TRI", "TPI", "roughness"))
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-z", type=float, default=1.0)
    ap.add_argument("-az", type=float, default=315.0)
    ap.add_argument("-alt", type=float, default=45.0)
    a = ap.parse_args(argv)
    from .raster.dem import dem_op
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    save_raster(dem_op(t, a.mode.lower(), tile=a.tile, z_factor=a.z,
                       azimuth=a.az, altitude=a.alt), a.dst, tile=a.tile)
    return 0


def _cmd_gdal_calc(argv) -> int:
    ap = argparse.ArgumentParser(prog="gdal_calc")
    ap.add_argument("-A", required=True, dest="src")
    ap.add_argument("--calc", required=True)
    ap.add_argument("--outfile", required=True)
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from .raster.stats import band_calc
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    save_raster(band_calc(t, a.calc, tile=a.tile), a.outfile, tile=a.tile)
    return 0


def _cmd_gdal_translate(argv) -> int:
    """Raster gdal_translate twin: -srcwin / -outsize / -scale + format
    conversion by destination extension."""
    ap = argparse.ArgumentParser(prog="gdal_translate")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-srcwin", nargs=4, type=int, default=None)
    ap.add_argument("-outsize", nargs=2, type=int, default=None)
    ap.add_argument("-scale", nargs=4, type=float, default=None)
    ap.add_argument("-of", default=None,
                    help="output format override (COG writes the "
                         "cloud-optimized layout with overviews)")
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.rtranslate import GridSpec, translate_raster
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    ext = t.agg(F.max("tile_x").alias("mx"),
                F.max("tile_y").alias("my")).collect()[0]
    grid = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0,
                    width=(int(ext.mx) + 1) * a.tile,
                    height=(int(ext.my) + 1) * a.tile, tile=a.tile)
    kw = {}
    if a.srcwin:
        kw["srcwin"] = tuple(a.srcwin)
    if a.outsize:
        kw["outsize"] = tuple(a.outsize)
    if a.scale:
        kw["scale"] = tuple(a.scale)
    out = translate_raster(t, grid, **kw) if kw else t
    skw = {"cog": True} if (a.of or "").upper() == "COG" else {}
    save_raster(out, a.dst, tile=a.tile, **skw)
    return 0


def _cmd_gdal2tiles(argv) -> int:
    """gdal2tiles.py twin: XYZ PNG tile tree for the input raster, all
    pyramid levels built and written by executors; --kml adds the
    SuperOverlay region-gated kml tree (the reference's -k flag)."""
    ap = argparse.ArgumentParser(prog="gdal2tiles")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-z", "--zoom", type=int, required=True,
                    help="max zoom of the base raster")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("--kml", action="store_true")
    ap.add_argument("-r", "--resampling", default="average")
    ap.add_argument("--tiledriver", default="PNG",
                    choices=["PNG", "JPEG"])
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.superoverlay import write_kml_superoverlay
    from .sources import open_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile) \
        .withColumn("zoom", F.lit(a.zoom))
    tiles = write_kml_superoverlay(
        t, a.dst, max_zoom=a.zoom, tile=a.tile, resampling=a.resampling,
        fmt="jpg" if a.tiledriver == "JPEG" else "png")
    if not a.kml:
        for z, x, y in tiles:
            kml = os.path.join(a.dst, str(z), str(x), f"{y}.kml")
            if os.path.exists(kml):
                os.unlink(kml)
        doc = os.path.join(a.dst, "doc.kml")
        if os.path.exists(doc):
            os.unlink(doc)
    print(json.dumps({"tiles": len(tiles),
                      "zooms": sorted({z for z, _x, _y in tiles})}))
    return 0


def _cmd_gdalwarp(argv) -> int:
    """gdalwarp twin (apps/gdalwarp_lib.cpp): reproject/resample a
    raster between any two accepted CRS spellings (EPSG / +proj= / WKT1
    / WKT2). The dst grid defaults to GDALSuggestedWarpOutput's plan
    (-te/-tr/-ts override); all pixel work runs in executors through
    the 14-kernel warp engine."""
    ap = argparse.ArgumentParser(prog="gdalwarp")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-s_srs", default="EPSG:4326")
    ap.add_argument("-t_srs", required=True)
    ap.add_argument("-r", default="near", dest="resample")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-srcnodata", type=float, default=None)
    ap.add_argument("-te", nargs=4, type=float, default=None,
                    help="dst extent xmin ymin xmax ymax")
    ap.add_argument("-tr", nargs=2, type=float, default=None,
                    help="dst pixel size xres yres")
    ap.add_argument("-ts", nargs=2, type=int, default=None,
                    help="dst size width height")
    ap.add_argument("-gt", nargs=6, type=float, default=None,
                    help="src geotransform x0 dx 0 y0 0 dy "
                         "(for sources without geo tags)")
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.rasterize import GridSpec
    from .raster.warp import WarpSpec, suggested_warp_output, warp
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    # real dims from the header probe — the padded tile extent would
    # inflate the warp window (and sample invalid latitudes) whenever
    # the raster isn't a tile-size multiple
    w, h = _raster_dims(a.src)
    if w is None:
        ext = t.agg(F.max("tile_x").alias("mx"),
                    F.max("tile_y").alias("my")).collect()[0]
        w = (int(ext.mx) + 1) * a.tile
        h = (int(ext.my) + 1) * a.tile
    if a.gt:
        x0, dx, _r1, y0, _r2, dy = a.gt
    elif a.src.lower().endswith((".tif", ".tiff")):
        from .sources.geotiff import read_ifd
        gt = read_ifd(a.src).get("geotransform",
                                 (0.0, 1.0, 0.0, 0.0, 0.0, -1.0))
        x0, dx, _r1, y0, _r2, dy = gt
    else:
        x0, y0, dx, dy = 0.0, 0.0, 1.0, -1.0
    src_grid = GridSpec(x0=x0, y0=y0, dx=dx, dy=dy, width=w, height=h,
                        tile=a.tile)
    if a.te and (a.tr or a.ts):
        xmin, ymin, xmax, ymax = a.te
        if a.tr:
            rx, ry = a.tr
            ow = max(1, int(round((xmax - xmin) / rx)))
            oh = max(1, int(round((ymax - ymin) / ry)))
        else:
            ow, oh = a.ts
            rx, ry = (xmax - xmin) / ow, (ymax - ymin) / oh
        dst_grid = GridSpec(x0=xmin, y0=ymax, dx=rx, dy=-ry,
                            width=ow, height=oh, tile=a.tile)
    else:
        dst_grid = suggested_warp_output(src_grid, a.s_srs, a.t_srs,
                                         tile=a.tile)
    spec = WarpSpec(src_grid=src_grid, src_crs=a.s_srs,
                    dst_grid=dst_grid, dst_crs=a.t_srs,
                    resample=a.resample, src_nodata=a.srcnodata)
    save_raster(warp(t, spec), a.dst, tile=a.tile,
                width=dst_grid.width, height=dst_grid.height)
    print(json.dumps({"width": dst_grid.width, "height": dst_grid.height,
                      "x0": dst_grid.x0, "y0": dst_grid.y0,
                      "dx": dst_grid.dx, "dy": dst_grid.dy}))
    return 0


def _cmd_gdaladdo(argv) -> int:
    """gdaladdo twin: build every overview level of a raster and store
    the whole pyramid in ONE MBTiles archive (multi-zoom mode) — the
    engine's external-overview container. Reductions + PNG encode run
    in executors."""
    ap = argparse.ArgumentParser(prog="gdaladdo")
    ap.add_argument("src")
    ap.add_argument("dst", nargs="?", default=None,
                    help="output .mbtiles pyramid; omit to write the "
                         "classic external-overview sidecar <src>.ovr")
    ap.add_argument("-z", "--zoom", type=int, default=None,
                    help="zoom of the base raster (mbtiles mode)")
    ap.add_argument("-r", default="average", dest="resampling")
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.pyramid import build_pyramid
    from .sources import open_raster
    from .sources.gpkg import write_mbtiles
    spark = _spark()
    if a.dst is None:
        from .sources.geotiff import read_ifd, write_ovr
        t = open_raster(spark, a.src, tile=a.tile)
        try:
            info = read_ifd(a.src)
            w, h, dt = info["width"], info["height"], info["dtype"]
        except Exception:
            ext = t.agg(F.max("tile_x").alias("mx"),
                        F.max("tile_y").alias("my"),
                        F.first("dtype").alias("dt")).collect()[0]
            w = (int(ext.mx) + 1) * a.tile
            h = (int(ext.my) + 1) * a.tile
            dt = ext.dt
        # the sidecar keeps the source's sample type, as GDAL's do
        n = write_ovr(t, a.src + ".ovr", width=w, height=h,
                      tile=a.tile, dtype=dt, resampling=a.resampling)
        print(json.dumps({"ovr_levels": n, "path": a.src + ".ovr"}))
        return 0
    if a.zoom is None:
        ap.error("-z is required for mbtiles pyramid mode")
    t = open_raster(spark, a.src, tile=a.tile) \
        .withColumn("zoom", F.lit(a.zoom))
    pyr = build_pyramid(t, levels=a.zoom, resampling=a.resampling,
                        tile=a.tile)
    n = write_mbtiles(pyr, a.dst, tile=a.tile, zoom=None)
    print(json.dumps({"tiles": n, "levels": a.zoom + 1}))
    return 0


def _cmd_gdal_contour(argv) -> int:
    """gdal_contour twin: -fl fixed levels (or -i interval over the band
    range) -> LINESTRING features with a `level` attribute, or -p band
    POLYGONs with level_min/level_max. Marching squares + per-level
    polyline linking run in executors (segments/bands are groupBy
    tasks); output routes through save_vector."""
    ap = argparse.ArgumentParser(prog="gdal_contour")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-fl", nargs="+", type=float, default=None)
    ap.add_argument("-i", type=float, default=None, dest="interval")
    ap.add_argument("-p", action="store_true", dest="polygons")
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    if not a.fl and not a.interval:
        ap.error("need -fl levels or -i interval")
    from pyspark.sql import functions as F, types as T
    from .sources import open_raster, save_vector
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    if a.fl:
        levels = sorted(a.fl)
    else:
        from .raster.stats import band_statistics
        st_row = band_statistics(t, tile=a.tile).collect()[0]
        lo, hi = float(st_row["min"]), float(st_row["max"])
        import math as _m
        levels = [k * a.interval
                  for k in range(int(_m.floor(lo / a.interval)) + 1,
                                 int(_m.ceil(hi / a.interval)))]
    if a.polygons:
        from .raster.contour import contour_polygon_bands
        lv = sorted(levels)
        alll = [float("-inf")] + lv
        bands = contour_polygon_bands(t, levels, tile=a.tile)
        out = bands.select(
            F.col("band_idx").cast("long").alias("fid"), "geom",
            *[F.element_at(F.array(*[F.lit(v) for v in alll]),
                           F.col("band_idx") + 1).alias("level_min"),
              F.element_at(F.array(*[F.lit(v) for v in (lv + [float("inf")])]),
                           F.col("band_idx") + 1).alias("level_max")])
        save_vector(out, a.dst)
        return 0
    from .raster.contour import assemble_polylines, contour_segments
    segs = contour_segments(t, levels, tile=a.tile)
    out_schema = T.StructType([T.StructField("fid", T.LongType()),
                               T.StructField("geom", T.BinaryType()),
                               T.StructField("level", T.DoubleType())])

    def link(key, pdf):
        import numpy as np
        import pandas as pd
        from .core import wkb as _wkb
        level = float(key[0])
        lines = assemble_polylines(
            list(zip(pdf["x0"], pdf["y0"], pdf["x1"], pdf["y1"])))
        rows = []
        for i, pts in enumerate(lines):
            arr = np.asarray(pts, dtype=np.float64)
            rows.append((i, _wkb.encode(_wkb.Geom(_wkb.LINESTRING, [arr])),
                         level))
        return pd.DataFrame(rows, columns=["fid", "geom", "level"])

    out = segs.groupBy("level").applyInPandas(link, out_schema)
    save_vector(out, a.dst)
    return 0


def _cmd_gdal_rasterize(argv) -> int:
    """gdal_rasterize twin: vector features burn into a raster grid
    (-burn constant or -a attribute, -ts size, -te extent, -at
    all-touched)."""
    ap = argparse.ArgumentParser(prog="gdal_rasterize")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-burn", type=float, default=1.0)
    ap.add_argument("-a", default=None, dest="attr")
    ap.add_argument("-ts", nargs=2, type=int, required=True)
    ap.add_argument("-te", nargs=4, type=float, required=True)
    ap.add_argument("-at", action="store_true", dest="all_touched")
    ap.add_argument("-init", type=float, default=0.0)
    ap.add_argument("-add", action="store_true")
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.rasterize import GridSpec, rasterize
    from .sources import open_vector, save_raster
    spark = _spark()
    v = open_vector(spark, a.src)
    burn = (F.col(a.attr).cast("double") if a.attr
            else F.lit(a.burn))
    geoms = v.select("geom", burn.alias("burn"),
                     F.col("fid").cast("long").alias("seq"))
    xmin, ymin, xmax, ymax = a.te
    ow, oh = a.ts
    grid = GridSpec(x0=xmin, y0=ymax, dx=(xmax - xmin) / ow,
                    dy=-(ymax - ymin) / oh, width=ow, height=oh,
                    tile=a.tile)
    t = rasterize(geoms, grid, merge_alg="add" if a.add else "replace",
                  all_touched=a.all_touched, init=a.init)
    save_raster(t, a.dst, tile=a.tile, width=ow, height=oh)
    return 0


def _cmd_gdal_grid(argv) -> int:
    """gdal_grid twin: scatter points -> interpolated raster (-alg
    invdist/average/nearest/count/min/max, -radius, -power)."""
    ap = argparse.ArgumentParser(prog="gdal_grid")
    ap.add_argument("src", help="vector points with z attribute")
    ap.add_argument("dst")
    ap.add_argument("-zfield", default="z")
    ap.add_argument("-alg", default="invdist")
    ap.add_argument("-radius", type=float, required=True)
    ap.add_argument("-power", type=float, default=2.0)
    ap.add_argument("-ts", nargs=2, type=int, required=True)
    ap.add_argument("-te", nargs=4, type=float, required=True)
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    import pandas as pd
    from pyspark.sql import functions as F
    from .core import wkb as _wkb
    from .raster.gridding import grid_interpolate
    from .raster.tiles import pixels_to_tiles
    from .sources import open_vector, save_raster
    spark = _spark()
    v = open_vector(spark, a.src)

    @F.pandas_udf("double")
    def gx(geom):
        return pd.Series([_wkb.decode(bytes(b)).rings[0][0][0]
                          for b in geom])

    @F.pandas_udf("double")
    def gy(geom):
        return pd.Series([_wkb.decode(bytes(b)).rings[0][0][1]
                          for b in geom])

    pts = v.select(gx("geom").alias("x"), gy("geom").alias("y"),
                   F.col(a.zfield).cast("double").alias("z"))
    xmin, ymin, xmax, ymax = a.te
    ow, oh = a.ts
    px = grid_interpolate(pts, x0=xmin, y0=ymax,
                          dx=(xmax - xmin) / ow, dy=-(ymax - ymin) / oh,
                          nx=ow, ny=oh, radius=a.radius,
                          algorithm=a.alg, power=a.power)
    t = pixels_to_tiles(px, tile=a.tile)
    save_raster(t, a.dst, tile=a.tile, width=ow, height=oh)
    return 0


def _cmd_gdal_merge(argv) -> int:
    """gdal_merge.py twin: mosaic N same-grid rasters last-on-top."""
    ap = argparse.ArgumentParser(prog="gdal_merge")
    ap.add_argument("srcs", nargs="+")
    ap.add_argument("-o", required=True, dest="dst")
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.mosaic import mosaic
    from .sources import open_raster, save_raster
    spark = _spark()
    parts = None
    for seq, p in enumerate(a.srcs):
        t = open_raster(spark, p, tile=a.tile).withColumn("seq",
                                                          F.lit(seq))
        parts = t if parts is None else parts.unionByName(t)
    save_raster(mosaic(parts, tile=a.tile), a.dst, tile=a.tile)
    return 0


def _cmd_gdal_proximity(argv) -> int:
    """gdal_proximity.py twin: distance-to-nearest-target raster
    (targets = nonzero pixels), halo-round vector distance transform."""
    ap = argparse.ArgumentParser(prog="gdal_proximity")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-maxdist", type=float, default=None)
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from .raster.proximity import proximity
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    save_raster(proximity(t, tile=a.tile, maxdist=a.maxdist), a.dst,
                tile=a.tile)
    return 0


def _cmd_nearblack(argv) -> int:
    """nearblack twin: snap the scan collar to pure black/white; writes
    the corrected raster (mask band dropped for the file sink)."""
    ap = argparse.ArgumentParser(prog="nearblack")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-near", type=int, default=15)
    ap.add_argument("-white", action="store_true")
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.nearblack import nearblack
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    ext = t.agg(F.max("tile_x").alias("mx"),
                F.max("tile_y").alias("my")).collect()[0]
    w, h = (int(ext.mx) + 1) * a.tile, (int(ext.my) + 1) * a.tile
    out = nearblack(t, width=w, height=h, tile=a.tile, near_dist=a.near,
                    near_white=a.white).where(F.col("band") > 0)
    save_raster(out, a.dst, tile=a.tile, width=w, height=h)
    return 0


def _cmd_gdal_pansharpen(argv) -> int:
    """gdal_pansharpen.py twin: weighted-Brovey combine of a multiband
    MS raster with a pan band on the same grid."""
    ap = argparse.ArgumentParser(prog="gdal_pansharpen")
    ap.add_argument("pan")
    ap.add_argument("ms")
    ap.add_argument("dst")
    ap.add_argument("-w", nargs="+", type=float, default=None,
                    dest="weights")
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from .raster.mosaic import pansharpen
    from .sources import open_raster, save_raster
    spark = _spark()
    pan = open_raster(spark, a.pan, tile=a.tile)
    ms = open_raster(spark, a.ms, tile=a.tile)
    save_raster(pansharpen(ms, pan, weights=a.weights, tile=a.tile),
                a.dst, tile=a.tile)
    return 0


def _cmd_gdal_viewshed(argv) -> int:
    """gdal_viewshed twin (apps/gdal_viewshed.cpp): observer viewshed
    over a DEM raster via the shuffle-by-ray R2 job; writes a 0/255
    visibility raster."""
    ap = argparse.ArgumentParser(prog="gdal_viewshed")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-ox", type=float, required=True,
                    help="observer X (global pixel col)")
    ap.add_argument("-oy", type=float, required=True,
                    help="observer Y (global pixel row)")
    ap.add_argument("-oz", type=float, default=2.0,
                    help="observer height above the DEM")
    ap.add_argument("-vv", type=float, default=255.0,
                    help="visible value")
    ap.add_argument("-iv", type=float, default=0.0,
                    help="invisible value")
    ap.add_argument("-rays", type=int, default=720)
    ap.add_argument("-tile", type=int, default=256)
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F
    from .raster.dem import viewshed
    from .raster.tiles import pixels_to_tiles
    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=a.tile)
    ext = t.agg(F.max("tile_x").alias("mx"),
                F.max("tile_y").alias("my")).collect()[0]
    w, h = (int(ext.mx) + 1) * a.tile, (int(ext.my) + 1) * a.tile
    vs = viewshed(t, a.ox, a.oy, a.oz, tile=a.tile, n_rays=a.rays)
    px = vs.select(F.col("gpx").alias("i"), F.col("gpy").alias("j"),
                   F.when(F.col("visible") == 1, F.lit(a.vv))
                   .otherwise(F.lit(a.iv)).alias("value"))
    out = pixels_to_tiles(px, tile=a.tile, fill=a.iv)
    save_raster(out, a.dst, tile=a.tile, width=w, height=h)
    return 0


def _cmd_gdal_footprint(argv) -> int:
    """gdal_footprint twin (apps/gdal_footprint_lib.cpp): connected
    valid-data regions of a raster -> footprint polygons with pixel
    counts, through save_vector. Component labeling and the cross-tile
    merge run distributed (raster/mosaic.footprint)."""
    ap = argparse.ArgumentParser(prog="gdal_footprint")
    ap.add_argument("src")
    ap.add_argument("dst")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("-srcnodata", type=float, default=None)
    a = ap.parse_args(argv)
    from .raster.mosaic import footprint
    from .sources import open_raster, save_vector
    spark = _spark()
    kw = {"nodata": a.srcnodata} if a.srcnodata is not None else {}
    t = open_raster(spark, a.src, tile=a.tile, **kw)
    fp = footprint(t, tile=a.tile)
    save_vector(fp, a.dst, geom_col="geom")
    print(json.dumps({"components": fp.count()}))
    return 0




def _cmd_gdal_retile(argv) -> int:
    """gdal_retile.py twin (swig/python/gdal-utils/osgeo_utils/
    gdal_retile.py): cut one raster into a directory of fixed-size
    tiles named <base>_<row>_<col>.<ext>. Each output tile writes
    independently from the engine tile table (the groupBy(tile_x,
    tile_y) already IS the retile plan — no driver pixels)."""
    import os

    ap = argparse.ArgumentParser(prog="gdal_retile")
    ap.add_argument("-ps", nargs=2, type=int, default=[256, 256],
                    metavar=("W", "H"))
    ap.add_argument("-targetDir", required=True)
    ap.add_argument("-of", default="GTiff")
    ap.add_argument("src")
    a = ap.parse_args(argv)
    if a.ps[0] != a.ps[1]:
        ap.error("square tiles only (-ps N N)")
    ps = a.ps[0]
    ext = {"GTiff": ".tif", "PNG": ".png", "BMP": ".bmp",
           "GIF": ".gif"}.get(a.of, ".tif")
    from pyspark.sql import functions as F

    from .sources import open_raster, save_raster
    spark = _spark()
    t = open_raster(spark, a.src, tile=ps)
    os.makedirs(a.targetDir, exist_ok=True)
    base = os.path.splitext(os.path.basename(a.src))[0]
    keys = sorted({(r.tile_x, r.tile_y) for r in
                   t.select("tile_x", "tile_y").distinct().collect()})
    # Actual raster dims so right/bottom edge tiles write TRUNCATED, not
    # padded with the tile table's 0/nodata fill — gdal_retile.py's
    # createTile writes (remaining_w, remaining_h) edge tiles.
    src_w, src_h = _raster_dims(a.src)
    if src_w is None:
        src_w = (max(k[0] for k in keys) + 1) * ps
        src_h = (max(k[1] for k in keys) + 1) * ps
    for tx, ty in keys:
        ew = min(ps, src_w - tx * ps)
        eh = min(ps, src_h - ty * ps)
        if ew <= 0 or eh <= 0:
            continue
        sub = t.where((F.col("tile_x") == tx) & (F.col("tile_y") == ty)) \
            .select("band", "zoom", F.lit(0).alias("tile_x"),
                    F.lit(0).alias("tile_y"), "dtype", "nodata", "px")
        out = os.path.join(a.targetDir, f"{base}_{ty + 1}_{tx + 1}{ext}")
        save_raster(sub, out, tile=ps, width=ew, height=eh)
        print(out)
    return 0


def _raster_dims(path: str):
    """Header-only (width, height) for the common retile inputs; (None,
    None) when the format has no cheap header probe (caller falls back
    to the padded tile extent)."""
    import struct

    low = path.lower()
    try:
        if low.endswith((".tif", ".tiff")):
            from .sources.geotiff import read_ifd
            info = read_ifd(path)
            return info["width"], info["height"]
        if low.endswith(".png"):
            with open(path, "rb") as fh:
                hdr = fh.read(33)
            if hdr[:8] == b"\x89PNG\r\n\x1a\n" and hdr[12:16] == b"IHDR":
                w, h = struct.unpack(">II", hdr[16:24])
                return w, h
        if low.endswith(".bmp"):
            from .sources.bmp import parse_bmp_header
            info = parse_bmp_header(path)
            return info["width"], abs(info["height"])
    except Exception:
        pass
    return None, None


def _cmd_gdalbuildvrt(argv):
    """gdalbuildvrt twin (apps/gdalbuildvrt_lib.cpp): union-extent
    mosaic VRT over georeferenced inputs, header-only reads (no pixel
    IO, no Spark job — the VRT is a plan, not a materialization)."""
    ap = argparse.ArgumentParser(prog="gdalbuildvrt")
    ap.add_argument("-vrtnodata", type=float, default=None)
    ap.add_argument("out")
    ap.add_argument("srcs", nargs="+")
    a = ap.parse_args(argv)
    from .raster.vrt import build_vrt
    build_vrt(a.srcs, a.out, nodata=a.vrtnodata)
    print(a.out)
    return 0


def _cmd_gdalcompare(argv):
    """gdalcompare twin (osgeo_utils/gdalcompare.py): per-band pixel
    diff + bit-exact checksum verdict between two rasters; exit code =
    number of differing bands (the reference's found-differences
    contract)."""
    ap = argparse.ArgumentParser(prog="gdalcompare")
    ap.add_argument("golden")
    ap.add_argument("new")
    a = ap.parse_args(argv)
    from .raster.tiles import raster_compare
    from .sources import open_raster
    spark = _spark()
    rows = raster_compare(open_raster(spark, a.golden),
                          open_raster(spark, a.new)).orderBy("band") \
        .collect()
    ndiff = 0
    for r in rows:
        ok = bool(r.checksum_equal) and int(r.n_pixels_diff) == 0
        ndiff += 0 if ok else 1
        print(f"band {r.band}: pixels_differing={r.n_pixels_diff} "
              f"max_abs_diff={r.max_abs_diff} "
              f"checksum {'OK' if r.checksum_equal else 'DIFFER'}")
    print(f"differences found: {ndiff}")
    return ndiff


def _cmd_gdalmdiminfo(argv):
    """gdalmdiminfo twin (apps/gdalmdiminfo_lib.cpp): JSON structure
    dump of a multidim container — HDF5/netCDF-4 (bounded driver-side
    B-tree walk) or a Zarr store (.zarray JSON per array). No pixel IO,
    no Spark job."""
    ap = argparse.ArgumentParser(prog="gdalmdiminfo")
    ap.add_argument("src")
    a = ap.parse_args(argv)
    import json
    arrays = {}
    if os.path.isdir(a.src):
        for root, _dirs, files in os.walk(a.src):
            if ".zarray" in files:
                with open(os.path.join(root, ".zarray")) as f:
                    za = json.load(f)
                name = os.path.relpath(root, a.src)
                arrays["/" if name == "." else name.replace(os.sep, "/")] \
                    = {"datatype": za.get("dtype"),
                       "dimension_size": za.get("shape"),
                       "block_size": za.get("chunks")}
        driver = "Zarr"
    else:
        from .sources.hdf5 import HDF5File
        hdf = HDF5File(a.src)
        for name, info in sorted(hdf.datasets.items()):
            layout = info.get("layout") or ("unknown",)
            arrays[name] = {
                "datatype": str(info.get("dtype")),
                "dimension_size": [int(d) for d in
                                   info.get("shape", [])],
                "block_size": ([int(c) for c in layout[2]]
                               if layout[0] == "chunked" else None)}
        driver = "HDF5"
    print(json.dumps({"type": "group", "driver": driver, "name": "/",
                      "arrays": arrays}, indent=2))
    return 0


def _cmd_gdalmdimtranslate(argv):
    """gdalmdimtranslate twin (apps/gdalmdimtranslate_lib.cpp, the
    slice-extraction subset): one leading-index slice of an N-D
    HDF5/Zarr array -> a classic 2-D raster via save_raster.  The
    slice is a FILTER on the long-format multidim table — only the
    chunks intersecting it are preaded."""
    ap = argparse.ArgumentParser(prog="gdalmdimtranslate")
    ap.add_argument("-array", default=None)
    ap.add_argument("-slice", dest="sl", default="",
                    help="comma-separated leading indices, e.g. 1,2")
    ap.add_argument("-tile", type=int, default=256)
    ap.add_argument("src")
    ap.add_argument("dst")
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F

    from .sources import save_raster
    spark = _spark()
    if os.path.isdir(a.src):
        from .sources.zarr import read_zarr_metadata, read_zarr_multidim
        meta = read_zarr_metadata(a.src)
        shape = [int(s) for s in meta["shape"]]
        df, _meta = read_zarr_multidim(spark, a.src)
        tile = int(meta["chunks"][-1])
    else:
        from .sources.hdf5 import read_hdf5_multidim
        df, hdf = read_hdf5_multidim(spark, a.src, dataset=a.array,
                                     tile=a.tile)
        dataset = a.array
        if dataset is None:
            nd = [k for k, v in hdf.datasets.items()
                  if len(v["shape"]) >= 3]
            dataset = sorted(nd or hdf.datasets)[0]
        shape = [int(s) for s in hdf.datasets[dataset]["shape"]]
        tile = a.tile
    idxs = [int(x) for x in a.sl.split(",") if x != ""]
    nlead = max(0, len(shape) - 2)
    if nlead >= 1:
        df = df.where(F.col("d0") == (idxs[0] if idxs else 0))
    if nlead >= 2:
        df = df.where(F.col("d1")
                      == (idxs[1] if len(idxs) > 1 else 0))
    tiles = df.select(
        F.lit(1).alias("band"), F.lit(0).alias("zoom"),
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        "dtype", F.lit(None).cast("double").alias("nodata"), "px")
    save_raster(tiles, a.dst, tile=tile,
                width=shape[-1], height=shape[-2])
    print(a.dst)
    return 0


def _cmd_gdaltindex(argv):
    """gdaltindex twin (apps/gdaltindex_lib.cpp): one polygon feature
    per input raster (its geotransform extent) with the `location`
    attribute, written through the distributed vector sinks.  Inputs
    are probed header-only (IFD / VRT XML), never scanned."""
    ap = argparse.ArgumentParser(prog="gdaltindex")
    ap.add_argument("-tileindex", default="location")
    ap.add_argument("dst")
    ap.add_argument("srcs", nargs="+")
    a = ap.parse_args(argv)
    import struct as _struct

    from .sources import save_vector

    def extent(path):
        low = path.lower()
        if low.endswith((".tif", ".tiff")):
            from .sources.geotiff import read_ifd
            info = read_ifd(path)
            gt, w, h = info.get("geotransform"), info["width"], \
                info["height"]
        elif low.endswith(".vrt"):
            from .raster.vrt import parse_vrt
            v = parse_vrt(path)
            gt, w, h = v["geotransform"], v["width"], v["height"]
        else:
            raise ValueError(f"gdaltindex: unsupported input {path}")
        if gt is None:
            raise ValueError(f"gdaltindex: {path} not georeferenced")
        cs = [(gt[0] + c * gt[1] + r * gt[2],
               gt[3] + c * gt[4] + r * gt[5])
              for c, r in ((0, 0), (w, 0), (w, h), (0, h), (0, 0))]
        wkb = _struct.pack("<BIII", 1, 3, 1, 5)
        for x, y in cs:
            wkb += _struct.pack("<2d", x, y)
        return wkb

    spark = _spark()
    rows = [(i + 1, p, extent(p)) for i, p in enumerate(a.srcs)]
    df = spark.createDataFrame(
        rows, f"fid long, {a.tileindex} string, geom binary")
    save_vector(df, a.dst)
    print(f"{len(rows)} features in {a.dst}")
    return 0


def _cmd_ogrmerge(argv):
    """ogrmerge.py twin (-single): union N vector sources into one
    layer, schema-merged by name (missing attributes null-fill), with
    the reference's source tracking via a `source_ds` field."""
    ap = argparse.ArgumentParser(prog="ogrmerge")
    ap.add_argument("-o", dest="dst", required=True)
    ap.add_argument("-single", action="store_true")
    ap.add_argument("-src_layer_field_name", default="source_ds")
    ap.add_argument("srcs", nargs="+")
    a = ap.parse_args(argv)
    from pyspark.sql import functions as F

    from .sources import open_vector, save_vector
    spark = _spark()
    merged = None
    for p in a.srcs:
        df = open_vector(spark, p).withColumn(
            a.src_layer_field_name, F.lit(os.path.basename(p)))
        merged = df if merged is None else \
            merged.unionByName(df, allowMissingColumns=True)
    save_vector(merged, a.dst)
    print(a.dst)
    return 0


_VECTOR_EXTS = (".shp", ".fgb", ".geojson", ".geojsonl", ".json",
                ".gml", ".kml", ".gpx", ".csv", ".gdb", ".tab",
                ".mif", ".dxf", ".parquet", ".sqlite", ".vrt.xml")


def _is_vector_path(path: str) -> bool:
    low = path.lower().rstrip("/")
    return low.endswith(_VECTOR_EXTS)


def _gdal_split_steps(args):
    steps = [[]]
    for a in args:
        if a in ("!", "|"):
            steps.append([])
        else:
            steps[-1].append(a)
    return [s for s in steps if s]


def _gdal_opts(tokens):
    """--name=value / --name value token list -> dict + positionals."""
    opts, pos = {}, []
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if t.startswith("--"):
            if "=" in t:
                k, v = t[2:].split("=", 1)
                opts[k] = v
            elif i + 1 < len(tokens) and \
                    not tokens[i + 1].startswith("--"):
                opts[t[2:]] = tokens[i + 1]
                i += 1
            else:
                opts[t[2:]] = True
        else:
            pos.append(t)
        i += 1
    return opts, pos


def _gdal_run_pipeline(steps, kind=None):
    """'read SRC ! step ... ! write DST' -> classic-utility argv (the
    reference's own step implementations build gdalwarp/ogr2ogr option
    strings the same way — gdalalg_raster_reproject.cpp:96-105)."""
    if not steps or steps[0][0] != "read" or steps[-1][0] != "write":
        print("gdal pipeline: expected 'read SRC ! ... ! write DST'",
              file=sys.stderr)
        return 2
    src = steps[0][1]
    dst = steps[-1][-1]
    if kind is None:
        kind = "vector" if _is_vector_path(src) else "raster"
    if kind == "vector":
        argv = [dst, src]
        wheres = []
        for st in steps[1:-1]:
            opts, _ = _gdal_opts(st[1:])
            if st[0] == "filter":
                if "where" in opts:
                    wheres.append(f"({opts['where']})")
                if "bbox" in opts:
                    argv += ["-clipsrc"] + opts["bbox"].split(",")
            elif st[0] == "reproject":
                if "src-crs" in opts:
                    argv += ["-s_srs", opts["src-crs"]]
                argv += ["-t_srs", opts["dst-crs"]]
            else:
                print(f"gdal vector pipeline: unknown step {st[0]!r}",
                      file=sys.stderr)
                return 2
        if wheres:
            argv += ["-where", " AND ".join(wheres)]
        return _cmd_ogr2ogr(argv)
    argv = [src, dst]
    for st in steps[1:-1]:
        opts, _ = _gdal_opts(st[1:])
        if st[0] == "reproject":
            if "src-crs" in opts:
                argv += ["-s_srs", opts["src-crs"]]
            argv += ["-t_srs", opts["dst-crs"],
                     "-r", opts.get("resampling", "near")]
            if "resolution" in opts:
                argv += ["-tr"] + opts["resolution"].split(",")
        else:
            print(f"gdal raster pipeline: unknown step {st[0]!r}",
                  file=sys.stderr)
            return 2
    return _cmd_gdalwarp(argv)


def _cmd_gdal(argv):
    """Unified `gdal` entry point (apps/gdalalg_main.cpp, the GDAL 3.11
    subcommand CLI): info / convert / pipeline plus `raster` / `vector`
    namespaces, dispatching onto the classic utility twins exactly as
    the reference's algorithm classes wrap the *_lib.cpp options.
    Shortcuts: `gdal FILE` = `gdal info FILE`; `gdal read ... ! ...` =
    `gdal pipeline ...`."""
    if not argv:
        print("usage: gdal <info|convert|pipeline|raster|vector> ...",
              file=sys.stderr)
        return 2
    if len(argv) == 1 and os.path.exists(argv[0]):
        argv = ["info", argv[0]]
    if argv[0] == "read":
        argv = ["pipeline"] + argv
    sub, rest = argv[0], argv[1:]
    kind = None
    if sub in ("raster", "vector"):
        kind = sub
        if not rest:
            print(f"usage: gdal {sub} "
                  "<info|convert|reproject|filter|pipeline> ...",
                  file=sys.stderr)
            return 2
        sub, rest = rest[0], rest[1:]
    if sub == "info":
        opts, pos = _gdal_opts(rest)
        f = pos[-1]
        if kind == "vector" or (kind is None and _is_vector_path(f)):
            return _cmd_ogrinfo([f])
        return _cmd_gdalinfo([f])
    if sub == "convert":
        opts, pos = _gdal_opts(rest)
        src, dst = pos[0], pos[1]
        if kind == "vector" or (kind is None and _is_vector_path(src)):
            return _cmd_ogr2ogr([dst, src])
        return _cmd_gdal_translate([src, dst])
    if sub == "edit" and kind in (None, "raster"):
        # gdalalg_raster_edit: in-place metadata edit — CRS override
        # (no reprojection), bbox -> geotransform, metadata items.
        # Persisted through the PAM sidecar (the reference writes to
        # the dataset; formats without in-file georef use PAM too).
        opts, pos = _gdal_opts(rest)
        src = pos[0]
        gt = None
        if "bbox" in opts:
            xmin, ymin, xmax, ymax = [float(v) for v in
                                      opts["bbox"].split(",")]
            w, h = _raster_dims(src)
            if w is None:
                print("gdal raster edit: cannot probe raster dims",
                      file=sys.stderr)
                return 2
            gt = (xmin, (xmax - xmin) / w, 0.0,
                  ymax, 0.0, -(ymax - ymin) / h)
        md = {}
        if "metadata" in opts:
            for kv in opts["metadata"].split(","):
                k, _, v = kv.partition("=")
                md.setdefault("", {})[k] = v
        from .sources.pam import write_pam
        write_pam(src, geotransform=gt, srs=opts.get("crs"),
                  metadata=md or None)
        print(src + ".aux.xml")
        return 0
    if sub in ("reproject", "filter"):
        opts, pos = _gdal_opts(rest)
        src, dst = pos[0], pos[1]
        step_tokens = [t for t in rest if t not in (src, dst)]
        return _gdal_run_pipeline(
            [["read", src], [sub] + step_tokens, ["write", dst]], kind)
    if sub == "pipeline":
        return _gdal_run_pipeline(_gdal_split_steps(rest), kind)
    print(f"gdal: unknown subcommand {sub!r}", file=sys.stderr)
    return 2


_COMMANDS = {"ogr2ogr": _cmd_ogr2ogr, "ogrinfo": _cmd_ogrinfo,
             "gdalinfo": _cmd_gdalinfo, "gdalsrsinfo": _cmd_gdalsrsinfo,
             "gdaltransform": _cmd_gdaltransform,
             "gdallocationinfo": _cmd_gdallocationinfo,
             "gdal_polygonize": _cmd_gdal_polygonize,
             "gdal_sieve": _cmd_gdal_sieve,
             "gdal_fillnodata": _cmd_gdal_fillnodata,
             "gdaldem": _cmd_gdaldem,
             "gdal_calc": _cmd_gdal_calc,
             "gdal_translate": _cmd_gdal_translate,
             "gdal_footprint": _cmd_gdal_footprint,
             "gdal2tiles": _cmd_gdal2tiles,
             "gdalwarp": _cmd_gdalwarp,
             "gdaladdo": _cmd_gdaladdo,
             "gdal_contour": _cmd_gdal_contour,
             "gdal_rasterize": _cmd_gdal_rasterize,
             "gdal_grid": _cmd_gdal_grid,
             "gdal_merge": _cmd_gdal_merge,
             "gdal_proximity": _cmd_gdal_proximity,
             "nearblack": _cmd_nearblack,
             "gdal_pansharpen": _cmd_gdal_pansharpen,
             "gdal_viewshed": _cmd_gdal_viewshed,
             "gdal_retile": _cmd_gdal_retile,
             "gdalbuildvrt": _cmd_gdalbuildvrt,
             "gdalcompare": _cmd_gdalcompare,
             "gdalmdiminfo": _cmd_gdalmdiminfo,
             "gdalmdimtranslate": _cmd_gdalmdimtranslate,
             "gdaltindex": _cmd_gdaltindex,
             "ogrmerge": _cmd_ogrmerge,
             "gdal": _cmd_gdal}


def main(argv=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv or argv[0] not in _COMMANDS:
        print(f"usage: python -m gdal_spark.cli {{{'|'.join(_COMMANDS)}}}"
              " ...", file=sys.stderr)
        return 2
    return _COMMANDS[argv[0]](argv[1:])


if __name__ == "__main__":
    sys.exit(main())
