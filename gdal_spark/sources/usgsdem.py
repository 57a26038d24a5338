"""USGS ASCII DEM source/sink (frmts/usgsdem/usgsdemdataset.cpp).

The classic USGS 7.5-minute / 1-degree DEM exchange format: 1024-byte
logical records, a fixed-layout A record (header), one B record per
PROFILE (a south-to-north COLUMN of I6 elevations with its own y offset),
Fortran D-exponent doubles. The reference reads it token-wise
(USGSDEMReadIntFromBuffer skips whitespace; doubles take an exact char
count with D->E patching, usgsdemdataset.cpp:131-246) and realigns to the
next 1024-byte boundary after each profile only in the new (1024) format.

Distribution: profiles are independent columns. For the canonical
1024-aligned new format, profile byte offsets are planned driver-side
from per-profile point counts (1 header + ceil((m-146)/170) continuation
blocks — the layout usgsdem_create.cpp emits), each start verified
against its (row, col) ints; legacy offsets (864/893/918/1025) or any
verification miss fall back to one sequential token scan that recovers
exact profile extents, after which value parsing still fans out by tile
column. At engine scale the parallel unit is the FILE (a DEM archive is
many quads), so even the fallback plan keeps every core busy.

The sink writes the new format: fixed A-record field offsets, 146/170
value packing, blank-padded blocks — so every profile strip lands at a
closed-form offset via per-task pwrite (no driver collect).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks

NODATA = -32767
_FIRST_BLOCK_VALS = 146          # (1024 - 144) // 6 — usgsdem_create.cpp
_CONT_BLOCK_VALS = 170           # (1024 - 4) // 6


class _Tok:
    """Token scanner with the reference's exact semantics."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read_int(self) -> int:
        b = self.buf
        n = len(b)
        i = self.pos
        while i < n and b[i:i + 1].isspace():
            i += 1
        if i >= n:
            self.pos = i
            raise EOFError
        sign = 1
        val = 0
        c = b[i]
        if c == 0x2D:
            sign = -1
        elif c == 0x2B:
            pass
        elif 0x30 <= c <= 0x39:
            val = c - 0x30
        else:
            self.pos = i + 1
            raise ValueError(f"bad int at {i}")
        i += 1
        while i < n and 0x30 <= b[i] <= 0x39:
            val = val * 10 + (b[i] - 0x30)
            i += 1
        self.pos = i
        return sign * val

    def read_double(self, nchars: int) -> float:
        s = self.buf[self.pos:self.pos + nchars]
        if len(s) < nchars:
            raise EOFError
        self.pos += nchars
        return float(s.replace(b"D", b"E"))

    def align1024(self):
        self.pos = (self.pos + 1023) // 1024 * 1024


def _int_at(buf: bytes, off: int) -> int:
    return _Tok(buf, off).read_int()


def parse_header(path: str) -> dict:
    """A-record -> meta dict (format detection, geotransform, size) —
    LoadFromFile (usgsdemdataset.cpp:582) twin."""
    with vsi.open_seekable(path) as f:
        head = f.read(4096)
        size = vsi.fsize(path)
    t = _Tok(head, 864)
    try:
        r864 = t.read_int()
        c864 = t.read_int()
        new_format = t.pos >= 1024 or r864 != 1 or c864 != 1
    except (EOFError, ValueError):
        new_format = True
    start = 864
    if new_format:
        start = None
        for cand in (1024, 893, 918):
            try:
                tt = _Tok(head, cand)
                i = tt.read_int()
                j = tt.read_int()
            except (EOFError, ValueError):
                continue
            if i == 1 and (j in (0, 1) if cand == 1024 else j == 1):
                start = cand
                break
        if start is None:
            raise ValueError("not a USGS DEM file")
        if start == 1024 and head[1024:1025] == b"\n" \
                and head[2049:2050] == b"\n":
            start = 1025
    coordsys = _int_at(head, 156)
    zone = _int_at(head, 162)
    gunit = _int_at(head, 528)
    vunit = _int_at(head, 534)
    t = _Tok(head, 816)
    dx = t.read_double(12)
    dy = t.read_double(12)
    if dy == 0:
        raise ValueError("zero y resolution")
    vres = t.read_double(12)
    t = _Tok(head, 546)
    corners = [(t.read_double(24), t.read_double(24)) for _ in range(4)]
    (swx, swy), (nwx, nwy), (nex, ney), (sex, sey) = corners
    xmin, xmax = min(swx, nwx), max(nex, sex)
    ymin, ymax = min(swy, sey), max(nwy, ney)
    nprofiles = _int_at(head, 858)
    datum = 0
    if new_format and len(head) >= 892:
        try:
            datum = int(head[890:892].strip() or 0)
        except ValueError:
            datum = 0
    is_float = vunit == 1 or vres < 1.0
    if coordsys in (1, 2, -9999):         # UTM / state plane / unknown
        ymin = np.floor(ymin / dy) * dy
        ymax = np.ceil(ymax / dy) * dy
        with vsi.open_seekable(path) as f:
            f.seek(start)
            t = _Tok(f.read(256))
        try:
            for _ in range(4):
                t.read_int()
            dx_start = t.read_double(24)
        except (EOFError, ValueError):
            dx_start = 0.0          # truncated first profile: the
            # reference's DConvert reads garbage; anchor at 0 instead
        ny = int((ymax - ymin) / dy + 1.5)
        gt = (dx_start - dx / 2.0, dx, 0.0, ymax + dy / 2.0, 0.0, -dy)
        geographic = False
    else:                                  # geographic: arc-sec -> deg
        ny = int((ymax - ymin) / dy + 1.5)
        gt = ((xmin - dx / 2.0) / 3600.0, dx / 3600.0, 0.0,
              (ymax + dy / 2.0) / 3600.0, 0.0, -dy / 3600.0)
        geographic = True
    return {"start": start, "nx": nprofiles, "ny": ny, "gt": gt,
            "geographic": geographic, "vres": vres, "datum": datum,
            "coordsys": coordsys, "zone": zone, "gunit": gunit,
            "vunit": vunit, "is_float": is_float, "size": size}


def _plan_profiles(path: str, meta: dict) -> list[int] | None:
    """Closed-form profile start offsets for the 1024-aligned format,
    each verified against its (row, col) header ints; None -> caller
    falls back to the sequential scan."""
    if meta["start"] != 1024:
        return None
    offs = []
    pos = 1024
    with vsi.open_seekable(path) as f:
        for i in range(meta["nx"]):
            if pos >= meta["size"]:
                break                      # truncated file: rest nodata
            f.seek(pos)
            hdr = f.read(48)
            try:
                t = _Tok(hdr)
                row = t.read_int()
                col = t.read_int()
                m = t.read_int()
            except (EOFError, ValueError):
                return None
            if row != 1 or col != i + 1:
                return None
            offs.append(pos)
            blocks = 1 + max(0, -(-(m - _FIRST_BLOCK_VALS)
                                  // _CONT_BLOCK_VALS))
            pos += blocks * 1024
    return offs


def _scan_profiles(path: str, meta: dict) -> list[int]:
    """Sequential token scan (the reference's only strategy) recovering
    each profile's byte start; one driver pass over a SLIDING pread
    window (a profile is at most ~100 KB of ASCII, so a 1 MiB window
    always covers it — driver RSS stays bounded on arbitrarily large
    files), values parsed later in parallel."""
    size = vsi.fsize(path)
    win = 1 << 20
    margin = 256 << 10                    # > any real profile record

    def _parse_record(buf: bytes, rel: int) -> int:
        t = _Tok(buf, rel)
        t.read_int()                      # row
        t.read_int()                      # col
        m = t.read_int()
        t.read_int()
        for _ in range(5):
            t.read_double(24)
        for _ in range(m):
            t.read_int()
        return t.pos

    offs = []
    pos = meta["start"]                   # absolute file offset
    wbase, buf = -1, b""
    for _ in range(meta["nx"]):
        if wbase < 0 or pos < wbase or (
                pos - wbase > len(buf) - margin
                and wbase + len(buf) < size):
            wbase, buf = pos, vsi.pread(path, pos, win)
        rel = pos - wbase
        # skip leading whitespace to the true record start
        while rel < len(buf) and buf[rel:rel + 1].isspace():
            rel += 1
        if wbase + rel >= size:
            break
        start = wbase + rel
        offs.append(start)
        try:
            end_rel = _parse_record(buf, rel)
        except EOFError:
            if wbase + len(buf) >= size:
                break
            # record crossed the window end: re-anchor and retry once
            wbase, buf = start, vsi.pread(path, start, win)
            try:
                end_rel = _parse_record(buf, 0)
            except EOFError:
                if start + len(buf) >= size:
                    break
                raise ValueError(
                    f"USGS DEM profile at {start} exceeds {win} bytes")
            except ValueError:
                break
        except ValueError:
            break
        pos = wbase + end_rel
        if meta["start"] == 1024:
            # records are 1024-aligned and pos starts aligned, so the
            # absolute round-up matches the reference's in-buffer one
            pos = (pos + 1023) // 1024 * 1024
    return offs


def _parse_profile(buf: bytes, meta: dict, col: np.ndarray):
    """One B record -> writes computed elevations into `col` (ny,)."""
    t = _Tok(buf)
    try:
        t.read_int()
        t.read_int()
        m = t.read_int()
        t.read_int()
        t.read_double(24)                  # x start
        dy_start = t.read_double(24)
        elev_off = t.read_double(24)
        t.read_double(24)
        t.read_double(24)
    except (EOFError, ValueError):
        return                             # truncated profile -> nodata
    gt = meta["gt"]
    ny = meta["ny"]
    if meta["geographic"]:
        dy_start /= 3600.0
    y_min = gt[3] + (ny - 0.5) * gt[5]
    lygap = int((y_min - dy_start) / gt[5] + 0.5)
    vres32 = np.float32(meta["vres"])
    for j in range(lygap, m + lygap):
        try:
            nelev = t.read_int()
        except (EOFError, ValueError):
            break
        iy = ny - j - 1
        if iy < 0 or iy >= ny or nelev == NODATA:
            continue
        # replicate the reference's mixed float/double arithmetic:
        # float(nElev * fVRes) + double(offset), cast to float
        v = np.float32(np.float64(np.float32(nelev) * vres32) + elev_off)
        if meta["is_float"]:
            col[iy] = v
        else:
            col[iy] = np.int16(min(32767.0, max(-32768.0, float(v))))


def read_usgsdem(spark: SparkSession, path: str,
                 tile: int = 256) -> DataFrame:
    """.dem -> engine tile table; meta via parse_header(path)."""
    meta = parse_header(path)
    offs = _plan_profiles(path, meta)
    if offs is None:
        offs = _scan_profiles(path, meta)
    nx, ny = meta["nx"], meta["ny"]
    ntx = -(-nx // tile)
    strips = []
    for tx in range(ntx):
        c0, c1 = tx * tile, min(nx, (tx + 1) * tile)
        have = [(i, offs[i]) for i in range(c0, min(c1, len(offs)))]
        if not have:
            b0 = b1 = 0
        else:
            b0 = have[0][1]
            b1 = offs[have[-1][0] + 1] if have[-1][0] + 1 < len(offs) \
                else meta["size"]
        strips.append((tx, c0, c1, b0, b1,
                       [o - b0 for _, o in have],
                       [i - c0 for i, _ in have]))
    sdf = spark.createDataFrame(
        strips, "tx long, c0 long, c1 long, b0 long, b1 long, "
                "rel array<long>, ci array<long>")
    dtype = "f4" if meta["is_float"] else "i2"
    npdt = np.float32 if meta["is_float"] else np.int16

    def decode(s):
        arr = np.full((ny, s.c1 - s.c0), NODATA, npdt)
        if len(s.rel):
            raw = vsi.pread(path, s.b0, s.b1 - s.b0)
            for rel, ci in zip(s.rel, s.ci):
                _parse_profile(raw[int(rel):], meta, arr[:, int(ci)])
        return plane_tiles(arr, 1, s.tx, 0, tile, dtype, NODATA,
                           fill=NODATA)

    return tiles_from_tasks(sdf, decode)


def _d24(v: float) -> bytes:
    s = ("%24.15E" % v).replace("E", "D").encode("ascii")
    return s[-24:]


def write_usgsdem(tiles: DataFrame, path: str, width_px: int,
                  height_px: int, tile: int = 256,
                  x0: float = 0.0, y_top: float = 0.0,
                  dx: float = 1.0, dy: float = 1.0, vres: float = 1.0,
                  geographic: bool = True, datum: int = 3,
                  zone: int = 0) -> None:
    """Tile table -> new-format (1024-record) USGS DEM, written in
    parallel: every profile occupies a closed-form number of 1024-byte
    blocks, so each tile-column strip pwrites at a computed offset."""
    m = height_px
    blocks = 1 + max(0, -(-(m - _FIRST_BLOCK_VALS) // _CONT_BLOCK_VALS))
    psize = blocks * 1024
    # corner/extent math mirrors the reader's inversion
    if geographic:
        # stored in arc-seconds, pixel-center anchored
        gxmin = (x0 + dx / 2.0) * 3600.0
        gymax = (y_top - dy / 2.0) * 3600.0
        ddx, ddy = dx * 3600.0, dy * 3600.0
        coordsys = 0
    else:
        gxmin = x0 + dx / 2.0
        gymax = y_top - dy / 2.0
        ddx, ddy = dx, dy
        coordsys = 1
    gymin = gymax - (height_px - 1) * ddy
    gxmax = gxmin + (width_px - 1) * ddx

    hdr = bytearray(b" " * 1024)
    hdr[0:40] = b"GDAL_SPARK USGS DEM".ljust(40)
    hdr[144:150] = b"%6d" % 1                       # level
    hdr[150:156] = b"%6d" % 1                       # pattern
    hdr[156:162] = b"%6d" % coordsys
    hdr[162:168] = b"%6d" % zone
    hdr[528:534] = b"%6d" % (3 if geographic else 2)   # ground unit
    hdr[534:540] = b"%6d" % 2                       # vertical unit: m
    hdr[540:546] = b"%6d" % 4
    pos = 546
    for cx, cy in ((gxmin, gymin), (gxmin, gymax), (gxmax, gymax),
                   (gxmax, gymin)):                 # SW NW NE SE
        hdr[pos:pos + 24] = _d24(cx)
        hdr[pos + 24:pos + 48] = _d24(cy)
        pos += 48
    hdr[738:762] = _d24(0.0)                        # elev min
    hdr[762:786] = _d24(0.0)                        # elev max
    hdr[786:810] = _d24(0.0)                        # angle
    hdr[810:816] = b"%6d" % 0
    hdr[816:828] = (b"%12.4E" % ddx)[-12:]
    hdr[828:840] = (b"%12.4E" % ddy)[-12:]
    hdr[840:852] = (b"%12.4E" % vres)[-12:]
    hdr[852:858] = b"%6d" % 1
    hdr[858:864] = b"%6d" % width_px
    hdr[876:880] = b"2026"
    hdr[890:892] = b"%2d" % datum
    total = 1024 + width_px * psize
    with open(path, "wb") as f:
        f.write(bytes(hdr))
        f.truncate(total)

    out_schema = T.StructType([T.StructField("tx", T.LongType()),
                               T.StructField("n", T.LongType())])
    nodata = float(NODATA)

    def emit(key, pdf):
        tx = int(key[0])
        c0 = tx * tile
        cols_here = min(width_px - c0, tile)
        strip = np.full((height_px, cols_here), NODATA, np.float64)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(np.float64)
            y0 = int(r.tile_y) * tile
            h = min(tile, height_px - y0)
            strip[y0:y0 + h, :] = arr[:h, :cols_here]
        buf = bytearray(b" " * (cols_here * psize))
        for c in range(cols_here):
            rec = bytearray(b" " * psize)
            rec[0:6] = b"%6d" % 1
            rec[6:12] = b"%6d" % (c0 + c + 1)
            rec[12:18] = b"%6d" % height_px
            rec[18:24] = b"%6d" % 1
            rec[24:48] = _d24(gxmin + (c0 + c) * ddx)
            rec[48:72] = _d24(gymin)
            rec[72:96] = _d24(0.0)                  # elev offset
            col = strip[::-1, c]                    # south -> north
            rec[96:120] = _d24(float(col.min()))
            rec[120:144] = _d24(float(col.max()))
            pos2 = 144
            left_in_block = _FIRST_BLOCK_VALS
            for v in col:
                if left_in_block == 0:
                    pos2 = (pos2 + 1023) // 1024 * 1024
                    left_in_block = _CONT_BLOCK_VALS
                iv = int(np.rint(v / vres)) if v != NODATA else NODATA
                rec[pos2:pos2 + 6] = b"%6d" % max(-32767, min(99999, iv))
                pos2 += 6
                left_in_block -= 1
            buf[c * psize:(c + 1) * psize] = rec
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, bytes(buf), 1024 + c0 * psize)
        finally:
            os.close(fd)
        return pd.DataFrame({"tx": [tx], "n": [cols_here]})

    del nodata
    tiles.groupBy("tile_x").applyInPandas(emit, out_schema).collect()
