"""KML SuperOverlay writer (frmts/kmlsuperoverlay/
kmlsuperoverlaydataset.cpp).

A SuperOverlay is a region-gated KML tree: every tile of every pyramid
level is a GroundOverlay image plus a .kml carrying its <Region> (the
geodetic LatLonAltBox + Lod pixel gates) and NetworkLinks to its four
children — Google Earth streams only the tiles whose Region is active.

Spark split: the PYRAMID and every PNG tile encode in executors
(build_pyramid — one bounded shuffle per three overview levels — then a
per-tile applyInPandas, same machinery as the MVT/PMTiles sinks); only
the kml TEXT tree — metadata, a few hundred bytes per tile — writes on
the driver from the collected (z, x, y) list.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..core.tilemath import tile_bounds_latlon_xyz
from .pyramid import build_pyramid
from .tiles import decode_px

_LIST_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("tx", T.LongType()),
    T.StructField("ty", T.LongType()),
])


def _latlonbox(z, x, y) -> str:
    lon0, lat0, lon1, lat1 = tile_bounds_latlon_xyz(x, y, z)
    return (f"<north>{lat1!r}</north><south>{lat0!r}</south>"
            f"<east>{lon1!r}</east><west>{lon0!r}</west>")


def _tile_kml(z, x, y, children, max_zoom, ext="png") -> str:
    max_lod = -1 if z == max_zoom else 2048
    box = _latlonbox(z, x, y)
    parts = ['<?xml version="1.0" encoding="UTF-8"?>',
             '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>',
             f"<Region><LatLonAltBox>{box}</LatLonAltBox>"
             f"<Lod><minLodPixels>128</minLodPixels>"
             f"<maxLodPixels>{max_lod}</maxLodPixels></Lod></Region>",
             f"<GroundOverlay><drawOrder>{z}</drawOrder>"
             f"<Icon><href>{y}.{ext}</href></Icon>"
             f"<LatLonBox>{box}</LatLonBox></GroundOverlay>"]
    for cz, cx, cy in children:
        cbox = _latlonbox(cz, cx, cy)
        href = f"../../{cz}/{cx}/{cy}.kml"
        parts.append(
            f"<NetworkLink><name>{cz}/{cx}/{cy}</name>"
            f"<Region><LatLonAltBox>{cbox}</LatLonAltBox>"
            f"<Lod><minLodPixels>128</minLodPixels>"
            f"<maxLodPixels>-1</maxLodPixels></Lod></Region>"
            f"<Link><href>{href}</href>"
            f"<viewRefreshMode>onRegion</viewRefreshMode></Link>"
            f"</NetworkLink>")
    parts.append("</Document></kml>")
    return "\n".join(parts)


def write_kml_superoverlay(base: DataFrame, out_dir: str, max_zoom: int,
                           tile: int = 256, resampling: str = "average",
                           png_dtype: str = "u1",
                           fmt: str = "png") -> list:
    """Base tile table (at zoom `max_zoom`) -> SuperOverlay directory:
    {z}/{x}/{y}.png + {z}/{x}/{y}.kml per tile, doc.kml at the root.
    Returns the [(z, x, y)] tile list. Tile images (and the whole
    pyramid reduction) are computed and written by executors;
    fmt='jpg' uses the baseline JPEG codec (gdal2tiles --tiledriver
    JPEG / the reference's JPEG SuperOverlays)."""
    from ..sources.png import encode_png
    ext = "jpg" if fmt in ("jpg", "jpeg") else "png"

    pyr = build_pyramid(base, levels=max_zoom, resampling=resampling,
                        tile=tile)

    def emit(key, pdf):
        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        bands = sorted(pdf["band"].unique())
        planes = {int(r.band): decode_px(r.px, r.dtype, tile)
                  for r in pdf.itertuples(index=False)}
        arr = (planes[bands[0]] if len(bands) == 1
               else np.stack([planes[b] for b in bands], axis=2))
        d = os.path.join(out_dir, str(z), str(tx))
        os.makedirs(d, exist_ok=True)
        if ext == "jpg":
            from ..sources.jpeg import encode_jpeg
            blob = encode_jpeg(arr.astype("u1"))
        else:
            blob = encode_png(arr.astype(png_dtype))
        with open(os.path.join(d, f"{ty}.{ext}"), "wb") as f:
            f.write(blob)
        return pd.DataFrame([(z, tx, ty)], columns=["z", "tx", "ty"])

    tiles = [(int(r.z), int(r.tx), int(r.ty))
             for r in pyr.groupBy("zoom", "tile_x", "tile_y")
                         .applyInPandas(emit, _LIST_SCHEMA).collect()]
    have = set(tiles)
    for z, x, y in tiles:
        children = [(z + 1, cx, cy)
                    for cx in (2 * x, 2 * x + 1)
                    for cy in (2 * y, 2 * y + 1)
                    if (z + 1, cx, cy) in have]
        with open(os.path.join(out_dir, str(z), str(x), f"{y}.kml"),
                  "w") as f:
            f.write(_tile_kml(z, x, y, children, max_zoom, ext))
    min_z = min(z for z, _x, _y in tiles)
    roots = sorted((z, x, y) for z, x, y in tiles if z == min_z)
    doc = ['<?xml version="1.0" encoding="UTF-8"?>',
           '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>']
    for z, x, y in roots:
        box = _latlonbox(z, x, y)
        doc.append(
            f"<NetworkLink><name>root {z}/{x}/{y}</name>"
            f"<Region><LatLonAltBox>{box}</LatLonAltBox>"
            f"<Lod><minLodPixels>128</minLodPixels>"
            f"<maxLodPixels>-1</maxLodPixels></Lod></Region>"
            f"<Link><href>{z}/{x}/{y}.kml</href>"
            f"<viewRefreshMode>onRegion</viewRefreshMode></Link>"
            f"</NetworkLink>")
    doc.append("</Document></kml>")
    with open(os.path.join(out_dir, "doc.kml"), "w") as f:
        f.write("\n".join(doc))
    return tiles
