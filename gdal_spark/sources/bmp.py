"""BMP raster source/sink (frmts/bmp/bmpdataset.cpp).

Windows DIB layout (public spec): 14-byte BITMAPFILEHEADER ('BM', file
size, pixel-data offset), 40-byte BITMAPINFOHEADER (width, height —
positive means BOTTOM-UP row order —, bit count, BI_RGB compression),
optional BGRX palette, then rows padded to 4-byte boundaries.

Supported: 8-bit paletted (one band + palette out-of-band) and 24-bit
BGR (three bands, returned in R,G,B band order like the reference's
band mapping). Uncompressed only — the reference likewise implements
only BI_RGB for reading strips at offsets.

Distribution: every pixel row lives at the closed-form offset
``data_off + row_from_bottom * stride`` — read tasks slice tile-row
strips, the sink preallocates and pwrites strips, exactly like the
ENVI/GeoTIFF sinks. No driver pass over pixels.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks


def parse_bmp_header(path: str) -> dict:
    hdr = vsi.pread(path, 0, 54)
    if hdr[:2] != b"BM":
        raise ValueError("not a BMP file")
    data_off = struct.unpack_from("<I", hdr, 10)[0]
    (size, w, h, planes, bpp, comp) = struct.unpack_from("<IiihHI", hdr, 14)
    if comp != 0:
        raise ValueError("only BI_RGB (uncompressed) BMP supported")
    if bpp not in (8, 24):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * (bpp // 8) + 3) & ~3
    palette = None
    if bpp == 8:
        n_colors = struct.unpack_from("<I", hdr, 46)[0] or 256
        pal = np.frombuffer(vsi.pread(path, 54, 4 * n_colors),
                            np.uint8).reshape(-1, 4)
        palette = pal[:, [2, 1, 0]].copy()          # BGRX -> RGB
    return {"width": w, "height": h, "bpp": bpp, "stride": stride,
            "data_off": data_off, "bottom_up": bottom_up,
            "palette": palette}


def read_bmp(spark: SparkSession, path: str, tile: int = 256):
    """BMP -> (tile table, header meta incl. palette)."""
    m = parse_bmp_header(path)
    w, h, bpp = m["width"], m["height"], m["bpp"]
    stride, data_off, bottom_up = m["stride"], m["data_off"], m["bottom_up"]
    strips = [(ty, ty * tile, min(h, (ty + 1) * tile))
              for ty in range(-(-h // tile))]
    sdf = spark.createDataFrame(strips, "ty long, r0 long, r1 long")

    def decode(s):
        n = s.r1 - s.r0
        # a bottom-up strip is one contiguous range too, stored flipped
        first = h - s.r1 if bottom_up else s.r0
        arr = np.frombuffer(vsi.pread(path, data_off + first * stride,
                                      n * stride), np.uint8) \
            .reshape(n, stride)
        if bottom_up:
            arr = arr[::-1]
        if bpp == 8:
            planes = [arr[:, :w]]
        else:   # 24-bit BGR -> bands R,G,B = 1,2,3
            px = arr[:, :w * 3].reshape(n, w, 3)
            planes = [px[:, :, 2], px[:, :, 1], px[:, :, 0]]
        for b, plane in enumerate(planes, 1):
            yield from plane_tiles(plane, b, 0, s.ty, tile, "u1")

    return tiles_from_tasks(sdf, decode), m


def write_bmp(tiles: DataFrame, path: str, *, width: int, height: int,
              bands: int = 1, tile: int = 256,
              palette: np.ndarray | None = None) -> None:
    """Tile table -> one .bmp (8-bit gray/paletted for bands=1, 24-bit
    for bands=3), strips pwritten in parallel at closed-form bottom-up
    offsets."""
    if bands not in (1, 3):
        raise ValueError("BMP sink writes 1 (paletted) or 3 (BGR) bands")
    bpp = 8 if bands == 1 else 24
    stride = (width * (bpp // 8) + 3) & ~3
    pal = b""
    if bands == 1:
        if palette is None:
            palette = np.repeat(np.arange(256, dtype=np.uint8),
                                3).reshape(256, 3)
        bgrx = np.zeros((256, 4), np.uint8)
        bgrx[:len(palette), :3] = palette[:, [2, 1, 0]]
        pal = bgrx.tobytes()
    data_off = 54 + len(pal)
    total = data_off + stride * height
    hdr = (b"BM" + struct.pack("<IHHI", total, 0, 0, data_off)
           + struct.pack("<IiihHIIiiII", 40, width, height, 1, bpp, 0,
                         stride * height, 2835, 2835,
                         256 if bands == 1 else 0, 0))
    with open(path, "wb") as f:
        f.write(hdr + pal)
        f.truncate(total)

    out_schema = T.StructType([T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height - r0, tile)
        strip = np.zeros((rows_here, stride), np.uint8)
        if bands == 1:
            for r in pdf.itertuples(index=False):
                arr = decode_px(r.px, r.dtype, tile).astype(np.uint8)
                x0 = int(r.tile_x) * tile
                wv = min(tile, width - x0)
                strip[:, x0:x0 + wv] = arr[:rows_here, :wv]
        else:
            px = np.zeros((rows_here, width, 3), np.uint8)
            for r in pdf.itertuples(index=False):
                arr = decode_px(r.px, r.dtype, tile).astype(np.uint8)
                x0 = int(r.tile_x) * tile
                wv = min(tile, width - x0)
                px[:, x0:x0 + wv, 2 - (int(r.band) - 1)] = \
                    arr[:rows_here, :wv]
            strip[:, :width * 3] = px.reshape(rows_here, width * 3)
        fd = os.open(path, os.O_WRONLY)
        try:
            for i in range(rows_here):
                fr = height - 1 - (r0 + i)            # bottom-up
                os.pwrite(fd, strip[i].tobytes(), data_off + fr * stride)
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [rows_here]})

    tiles.groupBy("tile_y").applyInPandas(emit, out_schema).collect()
