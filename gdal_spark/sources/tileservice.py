"""Web-map tile services (the reference's WMS client driver family —
frmts/wms/wmsdriver.cpp + minidriver_tms.cpp / minidriver_wms.cpp — and
the WMTS capabilities driver, frmts/wmts/wmtsdataset.cpp) re-expressed
as a distributed tile fetch plan.

A service config (the reference's <GDAL_WMS> XML) plus a pyramid level
defines a closed-form tile grid.  The engine NEVER enumerates tiles on
the driver beyond integer range arithmetic: the (tile_x, tile_y, url)
plan is a `spark.range` projection built entirely from JVM column
expressions (modulo/divide for the grid, format_string for the URL),
and the fetch + decode fan out executor-side through the `core.vsi`
ranged-IO seam — so a billion-tile level is a billion-row range scan,
not a driver loop.  In this container only the `file://`/bare-path vsi
backend exists (no network); an http/s3 backend is one
`vsi.register_backend` call, exactly the seam the reference's
/vsicurl/ handlers occupy.

Minidrivers implemented:
- **TMS/XYZ** (minidriver_tms.cpp): ``${z}/${x}/${y}`` substitution
  incl. ``${layer}``/``${version}``/``${format}``, TileXMultiplier,
  and the YOrigin top/bottom flip (tms_y = ny - y - 1).
- **WMS GetMap** (minidriver_wms.cpp BuildURL): per-tile BBOX
  requests with the reference's exact parameter order and "%.8f"
  coordinate formatting, BBoxOrder (e.g. yxYX for WMS 1.3 geographic),
  SRS vs CRS, Transparent.
- **WMTS** (frmts/wmts): GetCapabilities XML -> ResourceURL tile
  template + TileMatrix grids (ScaleDenominator * 0.28e-3 pixel
  metres), {TileMatrix}/{TileRow}/{TileCol} substitution.

Missing tiles (sparse pyramid / off-coverage requests) follow the
reference's ZeroBlockHttpCodes contract: skipped by default, or
zero-filled when ``zeroblock`` is set.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks

_MERC = 20037508.342789244


# ---------------------------------------------------------------------------
# <GDAL_WMS> config parse (gdalwmsdataset.cpp Initialize)
# ---------------------------------------------------------------------------

def parse_wms_config(xml: str) -> dict:
    """<GDAL_WMS> XML (string or path) -> service config dict."""
    if "<" not in xml:
        xml = vsi.pread(xml, 0, vsi.fsize(xml)).decode("utf-8")
    root = ET.fromstring(xml)
    if root.tag != "GDAL_WMS":
        raise ValueError("not a GDAL_WMS service description")

    def txt(el, name, default=None):
        n = el.find(name)
        return n.text.strip() if n is not None and n.text else default

    svc = root.find("Service")
    if svc is None:
        raise ValueError("GDAL_WMS: Service element missing")
    name = (svc.get("name") or "").upper()
    cfg = {"service": name}

    dw = root.find("DataWindow")
    cfg["ulx"] = float(txt(dw, "UpperLeftX", str(-_MERC))) \
        if dw is not None else -_MERC
    cfg["uly"] = float(txt(dw, "UpperLeftY", str(_MERC))) \
        if dw is not None else _MERC
    cfg["lrx"] = float(txt(dw, "LowerRightX", str(_MERC))) \
        if dw is not None else _MERC
    cfg["lry"] = float(txt(dw, "LowerRightY", str(-_MERC))) \
        if dw is not None else -_MERC
    cfg["tile_level"] = int(txt(dw, "TileLevel", "18")) \
        if dw is not None else 18
    cfg["tile_count_x"] = int(txt(dw, "TileCountX", "1")) \
        if dw is not None else 1
    cfg["tile_count_y"] = int(txt(dw, "TileCountY", "1")) \
        if dw is not None else 1
    # reference default: TMS is bottom-origin unless the config says top
    default_origin = "bottom" if name == "TMS" else "top"
    cfg["y_origin"] = (txt(dw, "YOrigin", default_origin)
                       if dw is not None else default_origin).lower()

    cfg["block_x"] = int(txt(root, "BlockSizeX", "256"))
    cfg["block_y"] = int(txt(root, "BlockSizeY", "256"))
    cfg["bands"] = int(txt(root, "BandsCount", "3"))
    cfg["projection"] = txt(root, "Projection", "EPSG:3857")
    cfg["zeroblock"] = txt(root, "ZeroBlockOnServerException", "false") \
        .lower() in ("true", "1", "yes")

    base = txt(svc, "ServerURL", None) or txt(svc, "ServerUrl", None)
    if not base:
        raise ValueError(f"GDAL_WMS {name}: ServerURL missing")

    if name == "TMS":
        url = base
        if "${" not in url and "{x}" not in url:
            if not url.endswith("/"):
                url += "/"
            url += "${version}/${layer}/${z}/${x}/${y}.${format}"
        url = url.replace("${layer}", txt(svc, "Layer", "") or "")
        url = url.replace("${version}", txt(svc, "Version", "1.0.0"))
        url = url.replace("${format}", txt(svc, "Format", "jpg"))
        # accept the XYZ-shorthand {x} spelling too (guard: don't touch
        # templates already using the reference's ${x} form)
        for v in ("x", "y", "z"):
            if "${%s}" % v not in url:
                url = url.replace("{%s}" % v, "${%s}" % v)
        cfg["url"] = url
        cfg["tile_x_multiplier"] = int(txt(svc, "TileXMultiplier", "1"))
    elif name == "WMS":
        cfg["url"] = base
        cfg["version"] = txt(svc, "Version", "1.1.1")
        cfg["layers"] = txt(svc, "Layers", "")
        cfg["styles"] = txt(svc, "Styles", "") or ""
        cfg["image_format"] = txt(svc, "ImageFormat", "image/jpeg")
        cfg["srs"] = txt(svc, "SRS", None)
        cfg["crs"] = txt(svc, "CRS", None)
        cfg["transparent"] = (txt(svc, "Transparent", "") or "").upper()
        cfg["bbox_order"] = txt(svc, "BBoxOrder", "xyXY")
    else:
        raise ValueError(f"GDAL_WMS minidriver {name!r} unsupported")
    return cfg


# ---------------------------------------------------------------------------
# closed-form tile grid + JVM-side URL plan
# ---------------------------------------------------------------------------

def _grid(cfg: dict, level: int) -> tuple[int, int, float, float]:
    nx = cfg["tile_count_x"] << level
    ny = cfg["tile_count_y"] << level
    resx = (cfg["lrx"] - cfg["ulx"]) / (nx * cfg["block_x"])
    resy = (cfg["uly"] - cfg["lry"]) / (ny * cfg["block_y"])
    return nx, ny, resx, resy


def _concat_template(parts: list, x, y, z_lit: int,
                     pieces: dict) -> "F.Column":
    cols = []
    for p in parts:
        if p == "${x}":
            cols.append(x.cast("string"))
        elif p == "${y}":
            cols.append(y.cast("string"))
        elif p == "${z}":
            cols.append(F.lit(str(z_lit)))
        elif p in pieces:
            cols.append(pieces[p])
        else:
            cols.append(F.lit(p))
    return F.concat(*cols)


def _split_template(url: str) -> list:
    parts, cur = [], ""
    i = 0
    while i < len(url):
        if url[i] == "$" and i + 1 < len(url) and url[i + 1] == "{":
            j = url.find("}", i)
            if j < 0:
                cur += url[i:]
                break
            if cur:
                parts.append(cur)
                cur = ""
            parts.append(url[i:j + 1])
            i = j + 1
        else:
            cur += url[i]
            i += 1
    if cur:
        parts.append(cur)
    return parts


def tile_plan(spark: SparkSession, cfg: dict, level: int,
              bbox: tuple | None = None) -> DataFrame:
    """(tile_x, tile_y, url) plan for one pyramid level — a pure
    `spark.range` projection; the URL is built by JVM column ops
    (format_string/concat), no Python in the plan."""
    nx, ny, resx, resy = _grid(cfg, level)
    x0, x1, y0, y1 = 0, nx - 1, 0, ny - 1
    if bbox is not None:
        bminx, bminy, bmaxx, bmaxy = bbox
        tw = resx * cfg["block_x"]
        th = resy * cfg["block_y"]
        import math
        x0 = max(0, int((bminx - cfg["ulx"]) // tw))
        x1 = min(nx - 1, math.ceil((bmaxx - cfg["ulx"]) / tw) - 1)
        y0 = max(0, int((cfg["uly"] - bmaxy) // th))
        y1 = min(ny - 1, math.ceil((cfg["uly"] - bminy) / th) - 1)
    ncols = x1 - x0 + 1
    nrows = y1 - y0 + 1
    if ncols <= 0 or nrows <= 0:
        return spark.range(0).select(
            F.col("id").alias("tile_x"), F.col("id").alias("tile_y"),
            F.lit("").alias("url"))
    base = spark.range(ncols * nrows).select(
        (F.col("id") % ncols + x0).alias("tile_x"),
        (F.col("id") / ncols).cast("long").alias("tile_y"))
    base = base.withColumn("tile_y", F.col("tile_y") + y0)
    tx, ty = F.col("tile_x"), F.col("tile_y")

    if cfg["service"] == "TMS":
        mult = cfg.get("tile_x_multiplier", 1)
        xs = tx * mult if mult != 1 else tx
        ys = ty if cfg["y_origin"] == "top" else (F.lit(ny - 1) - ty)
        url = _concat_template(_split_template(cfg["url"]), xs, ys,
                               level, {})
    else:  # WMS GetMap (BuildURL parameter order, %.8f coords)
        tw = resx * cfg["block_x"]
        th = resy * cfg["block_y"]
        minx = F.lit(cfg["ulx"]) + tx.cast("double") * tw
        maxx = minx + tw
        maxy = F.lit(cfg["uly"]) - ty.cast("double") * th
        miny = maxy - th
        coord = {"x": minx, "y": miny, "X": maxx, "Y": maxy}
        bb = [F.format_string("%.8f", coord[c])
              for c in cfg["bbox_order"]]
        base_url = cfg["url"]
        prep = "" if base_url.endswith(("?", "&")) else \
            ("&" if "?" in base_url else "?")
        head = (f"{base_url}{prep}request=GetMap"
                + ("&service=WMS" if "service="
                   not in base_url.lower() else "")
                + f"&version={cfg['version']}&layers={cfg['layers']}"
                  f"&styles={cfg['styles']}"
                  f"&format={cfg['image_format']}"
                  f"&width={cfg['block_x']}&height={cfg['block_y']}"
                  f"&bbox=")
        tail = ""
        if cfg.get("srs"):
            tail += f"&srs={cfg['srs']}"
        if cfg.get("crs"):
            tail += f"&crs={cfg['crs']}"
        if cfg.get("transparent"):
            tail += f"&transparent={cfg['transparent']}"
        url = F.concat(F.lit(head), bb[0], F.lit(","), bb[1],
                       F.lit(","), bb[2], F.lit(","), bb[3],
                       F.lit(tail))
    return base.select("tile_x", "tile_y", url.alias("url"))


# ---------------------------------------------------------------------------
# distributed fetch + decode
# ---------------------------------------------------------------------------

def _decode_image(buf: bytes) -> np.ndarray:
    """Sniff + decode PNG/JPEG tile bytes -> (h, w) or (h, w, c)."""
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        from .png import decode_png
        return decode_png(buf)[0]
    if buf[:2] == b"\xFF\xD8":
        from .jpeg import decode_jpeg
        return decode_jpeg(buf)[0]
    raise ValueError(f"unsupported tile image format "
                     f"(magic {buf[:4]!r})")


def read_tileservice(spark: SparkSession, cfg: dict | str,
                     level: int | None = None,
                     bbox: tuple | None = None):
    """Service config (+ level) -> (engine tile table, meta).

    Fetch and decode run in executors over the `tile_plan` range scan;
    each task preads its tile objects through core.vsi and emits one
    TILE_SCHEMA row per band.  Missing tiles are skipped (sparse) or
    zero-filled when cfg['zeroblock'] is set — the reference's
    ZeroBlockHttpCodes behavior."""
    if isinstance(cfg, str):
        cfg = parse_wms_config(cfg)
    if level is None:
        level = cfg["tile_level"]
    nx, ny, resx, resy = _grid(cfg, level)
    bs_x, bs_y = cfg["block_x"], cfg["block_y"]
    nbands = cfg["bands"]
    zeroblock = cfg.get("zeroblock", False)
    plan = tile_plan(spark, cfg, level, bbox)

    def decode(r):
        try:
            arr = _decode_image(vsi.read_all(r.url))
        except (FileNotFoundError, OSError, ValueError):
            if not zeroblock:
                return []
            arr = np.zeros((bs_y, bs_x, nbands), np.uint8)
        if arr.ndim == 2:       # a gray tile fills every declared band
            arr = np.repeat(arr[:, :, None], nbands, axis=2)
        return [t for b in range(min(nbands, arr.shape[2]))
                for t in plane_tiles(arr[:, :, b], b + 1, r.tile_x,
                                     r.tile_y, bs_x, arr.dtype.name,
                                     zoom=level)]

    meta = {"width": nx * bs_x, "height": ny * bs_y,
            "geotransform": (cfg["ulx"], resx, 0.0,
                             cfg["uly"], 0.0, -resy),
            "projection": cfg["projection"], "bands": nbands,
            "level": level, "tiles": (nx, ny)}
    return tiles_from_tasks(plan, decode), meta


# ---------------------------------------------------------------------------
# WMTS GetCapabilities (frmts/wmts/wmtsdataset.cpp)
# ---------------------------------------------------------------------------

_WMTS_NS = "{http://www.opengis.net/wmts/1.0}"
_OWS_NS = "{http://www.opengis.net/ows/1.1}"


def parse_wmts_capabilities(xml: str, layer: str | None = None,
                            tile_matrix_set: str | None = None) -> dict:
    """WMTS GetCapabilities XML (string or path) -> dict with the
    chosen layer's ResourceURL template and its TileMatrix grids
    (resolution = ScaleDenominator * 0.28e-3, the OGC standardized
    rendering pixel size)."""
    if "<" not in xml:
        xml = vsi.pread(xml, 0, vsi.fsize(xml)).decode("utf-8")
    root = ET.fromstring(xml)
    contents = root.find(f"{_WMTS_NS}Contents")
    if contents is None:
        raise ValueError("WMTS capabilities: Contents missing")

    layers = {}
    for lyr in contents.findall(f"{_WMTS_NS}Layer"):
        ident = lyr.findtext(f"{_OWS_NS}Identifier")
        res = lyr.find(f"{_WMTS_NS}ResourceURL[@resourceType='tile']")
        link = lyr.findtext(f"{_WMTS_NS}TileMatrixSetLink/"
                            f"{_WMTS_NS}TileMatrixSet")
        fmt = lyr.findtext(f"{_WMTS_NS}Format")
        style = lyr.findtext(f"{_WMTS_NS}Style/{_OWS_NS}Identifier")
        layers[ident] = {
            "template": res.get("template") if res is not None else None,
            "tms": link, "format": fmt, "style": style or "default"}
    if not layers:
        raise ValueError("WMTS capabilities: no layers")
    if layer is None:
        layer = next(iter(layers))
    lcfg = layers[layer]

    sets = {}
    for tms in contents.findall(f"{_WMTS_NS}TileMatrixSet"):
        ident = tms.findtext(f"{_OWS_NS}Identifier")
        mats = []
        for tm in tms.findall(f"{_WMTS_NS}TileMatrix"):
            tl = (tm.findtext(f"{_WMTS_NS}TopLeftCorner") or
                  "0 0").split()
            mats.append({
                "id": tm.findtext(f"{_OWS_NS}Identifier"),
                "scale": float(tm.findtext(
                    f"{_WMTS_NS}ScaleDenominator")),
                "ulx": float(tl[0]), "uly": float(tl[1]),
                "tile_w": int(tm.findtext(f"{_WMTS_NS}TileWidth")),
                "tile_h": int(tm.findtext(f"{_WMTS_NS}TileHeight")),
                "matrix_w": int(tm.findtext(f"{_WMTS_NS}MatrixWidth")),
                "matrix_h": int(tm.findtext(
                    f"{_WMTS_NS}MatrixHeight"))})
        sets[ident] = mats
    tms_id = tile_matrix_set or lcfg["tms"] or next(iter(sets))
    return {"layer": layer, "template": lcfg["template"],
            "style": lcfg["style"], "format": lcfg["format"],
            "tile_matrix_set": tms_id, "matrices": sets[tms_id]}


def read_wmts(spark: SparkSession, caps: dict | str,
              tile_matrix: str | None = None, bands: int = 3,
              layer: str | None = None):
    """WMTS capabilities (+ TileMatrix id) -> (tile table, meta); the
    ResourceURL template's {TileMatrix}/{TileRow}/{TileCol} (and
    {Style}) variables substitute into the same JVM-side URL plan as
    the TMS path (WMTS is always top-origin)."""
    if isinstance(caps, str):
        caps = parse_wmts_capabilities(caps, layer=layer)
    mats = caps["matrices"]
    m = mats[-1] if tile_matrix is None else \
        next(mm for mm in mats if mm["id"] == tile_matrix)
    res = m["scale"] * 0.28e-3
    tmpl = (caps["template"]
            .replace("{Style}", caps["style"])
            .replace("{TileMatrixSet}", caps["tile_matrix_set"])
            .replace("{TileMatrix}", m["id"])
            .replace("{TileRow}", "${y}")
            .replace("{TileCol}", "${x}"))
    cfg = {"service": "TMS", "url": tmpl, "y_origin": "top",
           "ulx": m["ulx"], "uly": m["uly"],
           "lrx": m["ulx"] + m["matrix_w"] * m["tile_w"] * res,
           "lry": m["uly"] - m["matrix_h"] * m["tile_h"] * res,
           "tile_count_x": m["matrix_w"], "tile_count_y": m["matrix_h"],
           "tile_level": 0, "block_x": m["tile_w"],
           "block_y": m["tile_h"], "bands": bands,
           "projection": "", "zeroblock": False,
           "tile_x_multiplier": 1}
    df, meta = read_tileservice(spark, cfg, level=0)
    meta["tile_matrix"] = m["id"]
    return df, meta


# ---------------------------------------------------------------------------
# pyramid writer twin (the fixture/server side of the roundtrip)
# ---------------------------------------------------------------------------

def write_xyz_pyramid(tiles: DataFrame, out_dir: str, *,
                      fmt: str = "png", y_origin: str = "top",
                      ny: int | None = None, tile: int = 256) -> int:
    """Engine tile table (single zoom, u1 planes) -> a z/x/y.{png,jpg}
    directory tree (the layout every XYZ/TMS server serves).  Each
    task encodes and writes only its own tiles — no driver pixels."""
    from .png import encode_png

    if fmt not in ("png",):
        raise ValueError("write_xyz_pyramid: png only")
    if y_origin == "bottom" and ny is None:
        raise ValueError("bottom origin needs ny")

    def emit(batches):
        import collections

        from ..raster.tiles import decode_px
        for pdf in batches:
            n = 0
            groups = collections.defaultdict(dict)
            for r in pdf.itertuples(index=False):
                groups[(int(r.zoom), int(r.tile_x),
                        int(r.tile_y))][int(r.band)] = \
                    np.clip(decode_px(r.px, r.dtype, tile),
                            0, 255).astype(np.uint8)
            for (z, x, y), bands in groups.items():
                ks = sorted(bands)
                arr = bands[ks[0]] if len(ks) == 1 else \
                    np.stack([bands[k] for k in ks], axis=2)
                yy = y if y_origin == "top" else (ny - 1 - y)
                d = os.path.join(out_dir, str(z), str(x))
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, f"{yy}.png"), "wb") as f:
                    f.write(encode_png(arr))
                n += 1
            yield pd.DataFrame({"n": [n]})

    out = tiles.repartition("tile_x", "tile_y") \
        .mapInPandas(emit, "n long")
    return int(sum(r.n for r in out.collect()))
