"""Erdas 7.x LAN/GIS raw raster source/sink (frmts/raw/landataset.cpp).

128-byte header ("HEAD74" new / "HEADER" old — the old form stores width
and height as float32), then band-interleaved-by-line pixel data; byte
order is sniffed from the band-count field exactly like the reference
(header byte 8 == 0 means big-endian). Pixel types: 0 = 8-bit, 1 = 4-bit
(two pixels per byte, high nibble first), 2 = 16-bit.

Distribution: line-strip tasks — each Spark task preads the lines of its
tile row, all bands, as one byte range (offsets are closed-form in the
BIL layout), the same pattern as the other raw-raster drivers; the writer
pwrites per tile-row strip into a preallocated file.
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

HEADER_SIZE = 128


def parse_header(path: str) -> dict:
    h = vsi.pread(path, 0, HEADER_SIZE)
    size = vsi.fsize(path)
    magic = h[:6]
    if magic not in (b"HEAD74", b"HEADER"):
        raise ValueError("not an Erdas LAN/GIS file")
    bo = ">" if h[8] == 0 else "<"        # reference sniff: byte 8
    pix, nbands = struct.unpack(bo + "hh", h[6:10])
    if magic == b"HEADER":                # old form: float32 dims
        w = int(struct.unpack(bo + "f", h[16:20])[0])
        hgt = int(struct.unpack(bo + "f", h[20:24])[0])
    else:
        w, hgt = struct.unpack(bo + "ii", h[16:24])
    ulx, uly, pw, ph = struct.unpack(bo + "ffff", h[112:128])
    if pix == 0:
        dt, line_bytes = "u1", w
    elif pix == 1:
        dt, line_bytes = "u4bit", (w + 1) // 2
    elif pix == 2:
        dt, line_bytes = "i2", 2 * w
    else:
        raise ValueError(f"unsupported LAN pixel type {pix}")
    gt = None
    if pw != 0.0 and ph != 0.0:
        gt = (float(ulx) - pw / 2.0, float(pw), 0.0,
              float(uly) + ph / 2.0, 0.0, -float(ph))
    return {"bo": bo, "pix": pix, "nbands": nbands, "width": w,
            "height": hgt, "dt": dt, "line_bytes": line_bytes,
            "gt": gt, "size": size}


def read_lan(spark: SparkSession, path: str, tile: int = 256):
    """.lan/.gis -> (engine tile table, header dict)."""
    meta = parse_header(path)
    w, hgt, nb = meta["width"], meta["height"], meta["nbands"]
    lb = meta["line_bytes"]
    # lines are band-interleaved (BIL): one strip task reads its lines
    # of every band as one contiguous range
    strips = [(ty, ty * tile, min(hgt, (ty + 1) * tile))
              for ty in range(-(-hgt // tile))]
    sdf = spark.createDataFrame(strips, "ty long, r0 long, r1 long")
    bo, pix = meta["bo"], meta["pix"]

    def decode(s):
        n = s.r1 - s.r0
        size = n * nb * lb
        raw = vsi.pread(path, HEADER_SIZE + s.r0 * nb * lb, size)
        raw = raw.ljust(size, b"\x00")
        if pix == 1:        # 4-bit, high nibble first
            b8 = np.frombuffer(raw, np.uint8).reshape(n, nb, lb)
            v = np.empty((n, nb, 2 * lb), np.uint8)
            v[..., 0::2] = b8 >> 4
            v[..., 1::2] = b8 & 0x0F
        else:
            v = np.frombuffer(raw, bo + "i2" if pix == 2 else np.uint8)
            v = v.reshape(n, nb, -1)
        for b in range(nb):
            yield from plane_tiles(v[:, b, :w], b + 1, 0, s.ty, tile,
                                   "float64")

    return tiles_from_tasks(sdf, decode), meta


def write_lan(tiles: DataFrame, path: str, width_px: int, height_px: int,
              tile: int = 256, nbands: int = 1, pix: int = 0,
              ulx: float = 0.5, uly: float = -0.5,
              pw: float = 1.0, ph: float = 1.0) -> None:
    """Tile table -> HEAD74 LAN (8-bit or 16-bit), parallel per
    (band, tile-row) pwrite at closed-form BIL offsets."""
    if pix not in (0, 2):
        raise ValueError("writer supports 8-bit (0) and 16-bit (2)")
    lb = width_px if pix == 0 else 2 * width_px
    hdr = bytearray(HEADER_SIZE)
    hdr[0:6] = b"HEAD74"
    struct.pack_into("<hh", hdr, 6, pix, nbands)
    struct.pack_into("<ii", hdr, 16, width_px, height_px)
    struct.pack_into("<ffff", hdr, 112, ulx, uly, pw, ph)
    with open(path, "wb") as f:
        f.write(bytes(hdr))
        f.truncate(HEADER_SIZE + lb * nbands * height_px)

    out_schema = T.StructType([T.StructField("k", T.StringType()),
                               T.StructField("n", T.LongType())])
    np_dt = np.uint8 if pix == 0 else np.dtype("<i2")

    def emit(key, pdf):
        band, ty = int(key[0]), int(key[1])
        r0 = ty * tile
        rows_here = min(height_px - r0, tile)
        strip = np.zeros((rows_here, width_px), np.float64)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(np.float64)
            x0 = int(r.tile_x) * tile
            ww = min(tile, width_px - x0)
            strip[:, x0:x0 + ww] = arr[:rows_here, :ww]
        raw = strip.astype(np_dt)
        fd = os.open(path, os.O_WRONLY)
        try:
            for r in range(rows_here):
                off = HEADER_SIZE + ((r0 + r) * nbands + band - 1) * lb
                os.pwrite(fd, raw[r].tobytes(), off)
        finally:
            os.close(fd)
        return pd.DataFrame({"k": [f"{band}/{ty}"], "n": [rows_here]})

    tiles.groupBy("band", "tile_y").applyInPandas(
        emit, out_schema).collect()
