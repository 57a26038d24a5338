"""DTED elevation source/sink (frmts/dted/dteddataset.cpp,
dted_api.c).

MIL-PRF-89020B layout: UHL (80 bytes, 'UHL1', lon/lat origin in DDDMMSSH
strings, intervals in tenths of seconds, column/row counts), DSI (648
bytes), ACC (2700 bytes), then one record per LONGITUDE COLUMN:
  252 (sentinel) + 3-byte block count + 2-byte lon index + 2-byte lat
  index, then nrows big-endian SIGNED-MAGNITUDE int16 samples ordered
  SOUTH->NORTH, then a 4-byte arithmetic checksum over the record.

Every column record has the same closed-form size, so reads are
column-range byte tasks and the sink pwrites column records in
parallel — the reference walks columns sequentially through
DTEDReadProfile. Signed-magnitude (NOT two's-complement) decode follows
dted_api.c: v = (raw & 0x7fff) * (raw & 0x8000 ? -1 : 1).
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

_DATA_OFF = 80 + 648 + 2700


def _dddmmssh(deg: float, is_lat: bool) -> bytes:
    h = (b"S" if deg < 0 else b"N") if is_lat else \
        (b"W" if deg < 0 else b"E")
    d = abs(deg)
    dd = int(d)
    mm = int((d - dd) * 60)
    ss = int(round(((d - dd) * 60 - mm) * 60))
    return (b"%03d%02d%02d" % (dd, mm, ss)) + h


def parse_dted_header(path: str) -> dict:
    uhl = vsi.pread(path, 0, 80)
    if uhl[:4] != b"UHL1":
        raise ValueError("not a DTED file (no UHL1)")
    def _ang(b):
        s = b.decode()
        sign = -1 if s[-1] in "SW" else 1
        return sign * (int(s[:3]) + int(s[3:5]) / 60 + int(s[5:7]) / 3600)
    lon0 = _ang(uhl[4:12])
    lat0 = _ang(uhl[12:20])
    lon_ival = int(uhl[20:24]) / 36000.0      # tenths of arcsec -> deg
    lat_ival = int(uhl[24:28]) / 36000.0
    ncols = int(uhl[47:51])
    nrows = int(uhl[51:55])
    return {"lon0": lon0, "lat0": lat0, "dlon": lon_ival,
            "dlat": lat_ival, "ncols": ncols, "nrows": nrows}


def _rec_size(nrows: int) -> int:
    return 8 + 2 * nrows + 4


def read_dted(spark: SparkSession, path: str, tile: int = 256):
    """DTED -> (tile table, header). Rows come back NORTH-up (row 0 =
    northernmost), the raster orientation every other driver uses."""
    m = parse_dted_header(path)
    ncols, nrows = m["ncols"], m["nrows"]
    rec = _rec_size(nrows)
    strips = [(tx, tx * tile, min(ncols, (tx + 1) * tile))
              for tx in range(-(-ncols // tile))]
    sdf = spark.createDataFrame(strips, "tx long, c0 long, c1 long")

    def decode(s):
        n = s.c1 - s.c0
        recs = np.frombuffer(vsi.pread(path, _DATA_OFF + s.c0 * rec,
                                       n * rec), np.uint8).reshape(n, rec)
        # sentinel is the C octal literal 0252 = 0xAA (dted_api.c)
        if not (recs[:, 0] == 0xAA).all():
            raise ValueError("bad DTED record sentinel")
        samp = recs[:, 8:8 + 2 * nrows]
        v = (samp[:, 0::2].astype(np.uint16) << 8) \
            | samp[:, 1::2].astype(np.uint16)
        mag = (v & 0x7FFF).astype(np.int32)
        val = np.where(v & 0x8000, -mag, mag)
        # columns x south->north rows -> north-up (nrows, ncols)
        return plane_tiles(val.T[::-1, :], 1, s.tx, 0, tile, "i4")

    return tiles_from_tasks(sdf, decode), m


def write_dted(tiles: DataFrame, path: str, *, ncols: int, nrows: int,
               lon0: float = 0.0, lat0: float = 0.0, tile: int = 256,
               interval_deg: float | None = None) -> None:
    """Tile table (band 1, north-up int elevations) -> one DTED cell,
    column records pwritten in parallel at closed-form offsets."""
    ival = interval_deg if interval_deg is not None else 1.0 / (nrows - 1) \
        if nrows > 1 else 1.0
    tenths = max(1, int(round(ival * 36000)))
    uhl = (b"UHL1" + _dddmmssh(lon0, False) + _dddmmssh(lat0, True)
           + b"%04d%04d" % (tenths, tenths)
           + b"0010" + b"NA " + b" " * 12 + b"%04d%04d" % (ncols, nrows)
           + b"0")
    uhl = uhl + b" " * (80 - len(uhl))
    rec = _rec_size(nrows)
    with open(path, "wb") as f:
        f.write(uhl)
        f.write(b"DSI" + b" " * 645)
        f.write(b"ACC" + b" " * 2697)
        f.truncate(_DATA_OFF + ncols * rec)

    out_schema = T.StructType([T.StructField("tx", T.LongType()),
                               T.StructField("n", T.LongType())])

    def emit(key, pdf):
        tx = int(key[0])
        c0 = tx * tile
        cols_here = min(ncols - c0, tile)
        plane = np.zeros((nrows, cols_here), np.int32)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(np.int32)
            r0 = int(r.tile_y) * tile
            hh = min(tile, nrows - r0)
            plane[r0:r0 + hh, :] = arr[:hh, :cols_here]
        sn = plane[::-1, :]                    # south->north storage
        mag = np.abs(sn).astype(np.uint16)
        raw = np.where(sn < 0, mag | 0x8000, mag).astype(">u2")
        fd = os.open(path, os.O_WRONLY)
        try:
            for j in range(cols_here):
                col_idx = c0 + j
                hdr = struct.pack(">B", 0xAA) \
                    + int(col_idx).to_bytes(3, "big") \
                    + struct.pack(">HH", col_idx & 0xFFFF, 0)
                body = raw[:, j].tobytes()
                csum = (sum(hdr) + sum(body)) & 0xFFFFFFFF
                recb = hdr + body + struct.pack(">I", csum)
                os.pwrite(fd, recb, _DATA_OFF + col_idx * rec)
        finally:
            os.close(fd)
        return pd.DataFrame({"tx": [tx], "n": [cols_here]})

    tiles.groupBy("tile_x").applyInPandas(emit, out_schema).collect()
