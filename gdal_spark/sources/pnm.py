"""PNM (PGM/PPM) raster source/sink (frmts/raw/pnmdataset.cpp).

Netpbm formats: 'P5' binary graymap and 'P6' binary pixmap (plus 'P2'
ASCII graymap on read). Header = magic, width, height, maxval as
whitespace/comment-separated ASCII tokens; binary samples follow the
single whitespace after maxval — u1 for maxval < 256, BIG-endian u2
otherwise (the Netpbm spec rule the reference implements).

Binary rows live at closed-form offsets, so reads are strip-parallel
byte-range tasks and the sink preallocates + pwrites strips, like the
other raw sinks. P2 (ASCII) falls back to a single whole-file task —
the granularity the reference's sequential scanner gets.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks


def parse_pnm_header(path: str):
    """-> (magic, width, height, maxval, data_offset)."""
    head = vsi.pread(path, 0, 65536)
    toks, pos, ntok = [], 0, 0
    while ntok < 4 and pos < len(head):
        # skip whitespace and '#' comments
        while pos < len(head) and head[pos:pos + 1].isspace():
            pos += 1
        if head[pos:pos + 1] == b"#":
            nl = head.find(b"\n", pos)
            pos = nl + 1 if nl >= 0 else len(head)
            continue
        start = pos
        while pos < len(head) and not head[pos:pos + 1].isspace():
            pos += 1
        toks.append(head[start:pos])
        ntok += 1
    magic = toks[0].decode()
    if magic not in ("P2", "P5", "P6"):
        raise ValueError(f"unsupported PNM magic {magic!r}")
    w, h, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    return magic, w, h, maxval, pos + 1      # single whitespace after maxval


def read_pnm(spark: SparkSession, path: str, tile: int = 256):
    """-> (tile table, meta). P6 returns bands 1..3 (R,G,B)."""
    magic, w, h, maxval, off = parse_pnm_header(path)
    dtype = "u1" if maxval < 256 else "u2"
    item = 1 if maxval < 256 else 2
    nchan = 3 if magic == "P6" else 1
    stride = w * nchan * item

    if magic == "P2":
        strips = [(-1, 0, h)]
    else:
        strips = [(ty, ty * tile, min(h, (ty + 1) * tile))
                  for ty in range(-(-h // tile))]
    sdf = spark.createDataFrame(strips, "ty long, r0 long, r1 long")

    def decode(s):
        if magic == "P2":
            vals = np.array(vsi.pread(path, off, vsi.fsize(path) - off)
                            .split(), dtype=np.int64)
            arr = vals.astype(dtype).reshape(h, w)[:, :, None]
        else:
            n = s.r1 - s.r0
            a = np.frombuffer(vsi.pread(path, off + s.r0 * stride,
                                        n * stride),
                              dtype=">u2" if item == 2 else "u1")
            arr = a.astype(dtype).reshape(n, w, nchan)
        for c in range(nchan):
            yield from plane_tiles(arr[:, :, c], c + 1, 0, s.r0 // tile,
                                   tile, dtype)

    meta = {"magic": magic, "width": w, "height": h, "maxval": maxval}
    return tiles_from_tasks(sdf, decode), meta


def write_pnm(tiles: DataFrame, path: str, *, width: int, height: int,
              bands: int = 1, maxval: int = 255, tile: int = 256) -> None:
    """Tile table -> P5 (bands=1) / P6 (bands=3), strip-parallel."""
    if bands not in (1, 3):
        raise ValueError("PNM sink writes P5 (1 band) or P6 (3 bands)")
    dtype = "u1" if maxval < 256 else ">u2"
    item = 1 if maxval < 256 else 2
    magic = "P5" if bands == 1 else "P6"
    hdr = f"{magic}\n{width} {height}\n{maxval}\n".encode()
    stride = width * bands * item
    with open(path, "wb") as f:
        f.write(hdr)
        f.truncate(len(hdr) + stride * height)
    off = len(hdr)

    out_schema = T.StructType([T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height - r0, tile)
        strip = np.zeros((rows_here, width, bands), dtype)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(dtype)
            x0 = int(r.tile_x) * tile
            wv = min(tile, width - x0)
            strip[:, x0:x0 + wv, int(r.band) - 1] = arr[:rows_here, :wv]
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, strip.tobytes(), off + r0 * stride)
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [rows_here]})

    tiles.groupBy("tile_y").applyInPandas(emit, out_schema).collect()
