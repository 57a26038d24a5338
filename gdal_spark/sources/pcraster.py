"""PCRaster CSF 2.0 raster source/sink (frmts/pcraster/
pcrasterdataset.cpp over libcsf — csf.h CSF_MAIN_HEADER /
CSF_RASTER_HEADER, csftypes.h CR_*/VS_* enums).

The CSF layout is the ideal distributed raster: a 256-byte header
(main header at 0, raster header at 64, data at 256) followed by one
flat row-major band.  The driver preads exactly 256 bytes; pixel bytes
stream through per-tile-row strip tasks at closed-form offsets, and
the writer pwrites the same strips into a preallocated file (the
LAN/ENVI sink shape).

Value scales (VS_BOOLEAN/NOMINAL/ORDINAL/SCALAR/DIRECTION/LDD) map to
cell representations (CR_UINT1/INT4/REAL4/REAL8 in version 2); missing
values are the libcsf per-type MV patterns (csftypes.h: UINT1 255,
INT4 min-int, REAL4/8 all-bits-set NaN) surfaced as the band nodata —
the reference's GetNoDataValue contract (autotest pcraster.py pins 255
for the UINT1 ldd map).
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks

SIG = b"RUU CROSS SYSTEM MAP FORMAT"
ADDR_DATA = 256

CR_NP = {0x00: "u1", 0x04: "i1", 0x11: "u2", 0x15: "i2",
         0x22: "u4", 0x26: "i4", 0x5A: "f4", 0xDB: "f8"}
NP_CR = {v: k for k, v in CR_NP.items()}
# libcsf csftypes.h MV_* patterns
MV_INT = {"u1": 255, "i1": -(1 << 7), "u2": (1 << 16) - 1,
          "i2": -(1 << 15), "u4": (1 << 32) - 1, "i4": -(1 << 31)}
VS_BOOLEAN, VS_NOMINAL, VS_ORDINAL = 0xE0, 0xE2, 0xF2
VS_SCALAR, VS_LDD, VS_DIRECTION = 0xEB, 0xF0, 0xFB
_DEFAULT_VS = {"u1": VS_BOOLEAN, "i4": VS_NOMINAL,
               "f4": VS_SCALAR, "f8": VS_SCALAR}


def parse_header(path: str) -> dict:
    h = vsi.pread(path, 0, ADDR_DATA)
    if h[:len(SIG)] != SIG:
        raise ValueError("not a PCRaster CSF file")
    order, = struct.unpack("<I", h[46:50])
    bo = "<" if order == 1 else ">"       # ORD_OK vs ORD_SWAB
    version, = struct.unpack(bo + "H", h[32:34])
    proj, = struct.unpack(bo + "H", h[38:40])
    vs, cr = struct.unpack(bo + "HH", h[64:68])
    dt = CR_NP.get(cr)
    if dt is None:
        raise ValueError(f"unsupported CSF cell representation {cr:#x}")
    # min/max occupy an 8-byte union slot each, typed by cellRepr
    def _var(off):
        if dt in ("f4", "f8"):
            fmt = "f" if dt == "f4" else "d"
            n = 4 if dt == "f4" else 8
            return struct.unpack(bo + fmt, h[off:off + n])[0]
        fmt = {"u1": "B", "i1": "b", "u2": "H", "i2": "h",
               "u4": "I", "i4": "i"}[dt]
        return struct.unpack(bo + fmt,
                             h[off:off + np.dtype(dt).itemsize])[0]
    xul, yul = struct.unpack(bo + "dd", h[84:100])
    nrows, ncols = struct.unpack(bo + "II", h[100:108])
    cell, _celly, angle = struct.unpack(bo + "ddd", h[108:132])
    nodata = MV_INT.get(dt)
    return {"version": version, "bo": bo, "projection": proj,
            "value_scale": vs, "cell_repr": cr, "dt": dt,
            "min": _var(68), "max": _var(76),
            "width": int(ncols), "height": int(nrows),
            "angle": angle, "nodata": (float(nodata)
                                       if nodata is not None else None),
            "geotransform": (xul, cell, 0.0, yul, 0.0, -cell)}


def read_pcraster(spark: SparkSession, path: str, tile: int = 256):
    """.map -> (engine tile table, header dict)."""
    meta = parse_header(path)
    w, hgt = meta["width"], meta["height"]
    dt, bo = meta["dt"], meta["bo"]
    item = np.dtype(dt).itemsize
    nodata = meta["nodata"]
    strips = [(ty, ty * tile, min(hgt, (ty + 1) * tile))
              for ty in range(-(-hgt // tile))]
    sdf = spark.createDataFrame(strips, "ty long, r0 long, r1 long")

    def decode(s):
        size = (s.r1 - s.r0) * w * item
        raw = vsi.pread(path, ADDR_DATA + s.r0 * w * item, size)
        arr = np.frombuffer(raw.ljust(size, b"\x00"), bo + dt) \
            .reshape(-1, w)
        return plane_tiles(arr, 1, 0, s.ty, tile, "float64", nodata)

    return tiles_from_tasks(sdf, decode), meta


def write_pcraster(tiles: DataFrame, path: str, width_px: int,
                   height_px: int, tile: int = 256,
                   cell_repr: str = "f4",
                   value_scale: int | None = None,
                   xul: float = 0.0, yul: float = 0.0,
                   cell: float = 1.0) -> None:
    """Tile table (band 1) -> one CSF 2.0 .map: the driver writes the
    256-byte header (min/max from ONE distributed aggregate pass),
    tasks pwrite their row strips at closed-form offsets."""
    if cell_repr not in ("u1", "i4", "f4", "f8"):
        raise ValueError("CSF version 2 stores u1/i4/f4/f8 only")
    vs = value_scale if value_scale is not None \
        else _DEFAULT_VS[cell_repr]
    item = np.dtype(cell_repr).itemsize

    stat_schema = T.StructType([T.StructField("mn", T.DoubleType()),
                                T.StructField("mx", T.DoubleType())])

    def stats(batches):
        for pdf in batches:
            mn, mx = math.inf, -math.inf
            for r in pdf.itertuples(index=False):
                a = decode_px(r.px, r.dtype, tile)
                mn = min(mn, float(a.min()))
                mx = max(mx, float(a.max()))
            yield pd.DataFrame({"mn": [mn], "mx": [mx]})

    from pyspark.sql import functions as F
    st = tiles.mapInPandas(stats, stat_schema) \
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx")) \
        .collect()[0]

    hdr = bytearray(ADDR_DATA)
    hdr[0:len(SIG)] = SIG
    struct.pack_into("<H", hdr, 32, 2)            # version 2
    struct.pack_into("<I", hdr, 34, 0)            # gisFileId
    struct.pack_into("<H", hdr, 38, 1)            # PT_YDECT2B
    struct.pack_into("<I", hdr, 40, 0)            # attrTable
    struct.pack_into("<H", hdr, 44, 1)            # T_RASTER
    struct.pack_into("<I", hdr, 46, 1)            # ORD_OK
    struct.pack_into("<HH", hdr, 64, vs, NP_CR[cell_repr])
    hdr[68:84] = b"\xff" * 16                     # min/max union fill
    if cell_repr in ("f4", "f8"):
        fmt = "<f" if cell_repr == "f4" else "<d"
        struct.pack_into(fmt, hdr, 68, st.mn)
        struct.pack_into(fmt, hdr, 76, st.mx)
    else:
        fmt = {"u1": "<B", "i4": "<i"}[cell_repr]
        struct.pack_into(fmt, hdr, 68, int(st.mn))
        struct.pack_into(fmt, hdr, 76, int(st.mx))
    struct.pack_into("<dd", hdr, 84, xul, yul)
    struct.pack_into("<II", hdr, 100, height_px, width_px)
    struct.pack_into("<ddd", hdr, 108, cell, cell, 0.0)
    with open(path, "wb") as f:
        f.write(bytes(hdr))
        f.truncate(ADDR_DATA + width_px * height_px * item)

    out_schema = T.StructType([T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])
    np_dt = np.dtype("<" + cell_repr)

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height_px - r0, tile)
        strip = np.zeros((rows_here, width_px), np.float64)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(np.float64)
            x0 = int(r.tile_x) * tile
            ww = min(tile, width_px - x0)
            strip[:, x0:x0 + ww] = arr[:rows_here, :ww]
        raw = strip.astype(np_dt).tobytes()
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, raw, ADDR_DATA + r0 * width_px * item)
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [rows_here]})

    tiles.groupBy("tile_y").applyInPandas(emit, out_schema).collect()
