"""BSB/KAP nautical raster chart source/sink (frmts/bsb/bsb_read.c).

A .KAP file is a text header (comma-separated KEY/ lines, physical
lines starting with a blank merged as continuations), terminated by
0x1A 0x00, then one byte of color depth (1..7 bits, with the reference's
ASCII-digit repair hack), then RLE scanlines: each line leads with a
7-bit-groups line marker, then runs of (value in the top nColorSize
bits, count in the low bits, 0x80-continued), terminated by 0x00; a
big-endian u32 index table at the file tail (its offset in the last 4
bytes) gives every line's byte offset. Band 1 is the palette index
(RGB/ header entries form the color table) — checksums match the
reference autotest (rgbsmall.kap family: 30321).

Distribution: the index table IS the parallel plan — each Spark task
preads a contiguous line-range byte window and expands its runs; files
without a valid index fall back to one sequential task, exactly the
access pattern the reference degrades to. The writer runs two-phase
(distributed RLE encode + driver prefix-sum of line sizes + parallel
pwrite at closed-form offsets), like the PMTiles sink.
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


def parse_header(path: str) -> dict:
    # paged driver-side walk: only the ASCII header pages + the trailing
    # index table are fetched, never the RLE pixel stream
    raw = vsi.PagedReader(path)
    # locate 0x1A 0x00 header terminator
    end = raw.find(b"\x1a\x00")
    if end < 0:
        raise ValueError("not a BSB/KAP file (no 0x1A 0x00 terminator)")
    text = raw[:end].replace(b"\x1a", b"")
    # merge continuation lines (leading blank -> comma), strip CR/LF
    lines = []
    for ln in text.replace(b"\r\n", b"\n").replace(b"\r", b"\n") \
                  .split(b"\n"):
        if ln.startswith(b" ") or ln.startswith(b"\t"):
            if lines:
                lines[-1] += b"," + ln.strip()
        else:
            lines.append(ln)
    width = height = None
    palette = {}
    version = None
    for ln in lines:
        s = ln.decode("latin-1", "replace")
        if s.startswith(("BSB/", "NOS/")):
            for tok in s[4:].split(","):
                if tok.startswith("RA="):
                    width = int(tok[3:])
                elif width is not None and tok.isdigit() \
                        and height is None:
                    height = int(tok)
        elif s.startswith("VER/"):
            version = s[4:].strip()
        elif s.startswith("RGB/"):
            p = s[4:].split(",")
            if len(p) >= 4:
                palette[int(p[0])] = (int(p[1]), int(p[2]), int(p[3]))
    if width is None or height is None:
        raise ValueError("BSB header lacks RA=width,height")
    pos = end + 2
    depth = raw[pos]
    pos += 1
    # reference repair: ASCII '1'..'8' written instead of the binary value
    if 0x31 <= depth <= 0x38:
        depth -= 0x30
    if not (1 <= depth <= 7):
        raise ValueError(f"bad BSB color depth {depth}")
    first_line = pos
    size = len(raw)
    # index table: last 4 bytes point at nYSize big-endian u32 offsets
    offsets = None
    if size >= 8:
        idx_off = struct.unpack(">i", raw[-4:])[0]
        if idx_off + 4 * (height - 1) == size - 4:
            height -= 1          # reference: one-row-short index tables
        if first_line < idx_off <= size - 4 - 4 * height + 4 * height:
            n = (size - 4 - idx_off) // 4
            if n >= height:
                cand = list(struct.unpack(f">{height}i",
                                          raw[idx_off:idx_off
                                              + 4 * height]))
                ok = all(first_line <= cand[i] < idx_off
                         for i in range(height)) and all(
                    cand[i] <= cand[i + 1] for i in range(height - 1))
                if ok:
                    offsets = cand
                    offsets.append(idx_off)
    return {"width": width, "height": height, "depth": depth,
            "palette": palette, "version": version,
            "first_line": first_line, "offsets": offsets, "size": size}


def _read_marker(buf: bytes, pos: int, line: int):
    """7-bit-groups line marker at ``pos`` -> (marker, next pos)."""
    marker = 0
    first = True
    while True:
        b = buf[pos]
        pos += 1
        if line != 0 and marker == 0 and b == 0 and not first:
            continue                        # reference zero-skip hack
        first = False
        marker = marker * 128 + (b & 0x7F)
        if not b & 0x80:
            return marker, pos


def _decode_line(buf: bytes, pos: int, line: int, width: int,
                 depth: int) -> "tuple[np.ndarray, int]":
    """One RLE scanline at ``pos`` -> (pixels, next pos), with the
    reference's quirks: marker may be 0- or 1-based; a row whose runs
    end short continues in a FOLLOW-ON run record when the next bytes
    are not the next line's marker (BSBReadScanline's do-while /
    'line break' case); exactly-one-short rows get a trailing zero."""
    marker, pos = _read_marker(buf, pos, line)
    if marker not in (line, line + 1):
        raise ValueError(f"scanline id {marker} where {line + 1} "
                         f"expected at {pos}")
    shift = 7 - depth
    vmask = ((1 << depth) - 1) << shift
    cmask = (1 << shift) - 1
    out = np.zeros(width, np.uint8)
    i = 0
    n_buf = len(buf)
    while True:
        while True:                          # runs until 0x00
            if pos >= n_buf:
                break
            b = buf[pos]
            pos += 1
            if b == 0:
                break
            val = (b & vmask) >> shift
            run = b & cmask
            while b & 0x80 and pos < n_buf:
                b = buf[pos]
                pos += 1
                run = run * 128 + (b & 0x7F)
            run = min(run, width - i - 1)
            out[i:i + run + 1] = val
            i += run + 1
            if i >= width:
                while pos < n_buf and buf[pos] != 0:
                    pos += 1
                pos += 1
                break
        if i >= width - 1 or pos >= n_buf:
            break
        # short row: does a plausible next-line marker follow? if not,
        # the remaining bytes are continuation runs for THIS row
        try:
            m, _p2 = _read_marker(buf, pos, line + 1)
        except IndexError:
            break
        if m in (line + 1, line + 2):
            break
    if i == width - 1:
        out[i] = 0                          # reference one-short repair
    # the reference drops the first color entry: stored indices are
    # 1-based, band values are index-1 (bsbdataset.cpp IReadBlock)
    out = np.where(out > 0, out - 1, out).astype(np.uint8)
    return out, pos


def read_bsb(spark: SparkSession, path: str, tile: int = 256):
    """.kap -> (engine tile table of palette indices, header dict)."""
    meta = parse_header(path)
    w, hgt, depth = meta["width"], meta["height"], meta["depth"]
    offs = meta["offsets"]
    if offs is None:
        # no valid index: one sequential scan discovers the offsets
        buf = vsi.read_all(path)
        offs = []
        pos = meta["first_line"]
        for line in range(hgt):
            offs.append(pos)
            _px, pos = _decode_line(buf, pos, line, w, depth)
        offs.append(pos)
    strips = []
    for ty in range(-(-hgt // tile)):
        r0, r1 = ty * tile, min(hgt, (ty + 1) * tile)
        strips.append((ty, r0, r1, offs[r0], offs[r1]))
    sdf = spark.createDataFrame(
        strips, "ty long, r0 long, r1 long, b0 long, b1 long")

    def decode(s):
        buf = vsi.pread(path, s.b0, s.b1 - s.b0)
        arr = np.zeros((s.r1 - s.r0, w), np.float64)
        pos = 0
        for r in range(s.r1 - s.r0):
            arr[r], pos = _decode_line(buf, pos, s.r0 + r, w, depth)
        return plane_tiles(arr, 1, 0, s.ty, tile, "float64")

    return tiles_from_tasks(sdf, decode), meta


def _encode_line(px: np.ndarray, line: int, depth: int) -> bytes:
    """Inverse of _decode_line (marker, runs, 0x00)."""
    out = bytearray()
    m = line + 1
    groups = []
    while True:
        groups.append(m & 0x7F)
        m >>= 7
        if not m:
            break
    for g in reversed(groups[1:]):
        out.append(0x80 | g)
    out.append(groups[0])
    shift = 7 - depth
    cmask = (1 << shift) - 1
    i = 0
    n = len(px)
    while i < n:
        v = int(px[i])
        j = i
        while j + 1 < n and px[j + 1] == v:
            j += 1
        run = j - i                      # emits run+1 pixels
        if run <= cmask:
            out.append((v << shift) | run)
        else:
            groups = []
            r = run
            # low 7-bit groups after the (possibly zero) count field
            while r > cmask:
                groups.append(r & 0x7F)
                r >>= 7
            out.append(0x80 | (v << shift) | r)
            for g in reversed(groups[1:]):
                out.append(0x80 | g)
            out.append(groups[0])
        i = j + 1
    out.append(0)
    return bytes(out)


def write_bsb(tiles: DataFrame, path: str, width_px: int, height_px: int,
              tile: int = 256, depth: int = 7,
              palette: dict | None = None) -> None:
    """Tile table (band 1 palette indices) -> .KAP: distributed RLE
    encode per tile-row strip, driver prefix-sum of line lengths, then
    parallel pwrite + big-endian index table."""
    if palette is None:
        palette = {i: (i, i, i) for i in range(1, (1 << depth))}
    hdr = ("! gdal_spark BSB writer\r\n"
           "VER/3.0\r\n"
           f"BSB/NA=GDAL_SPARK,NU=1,RA={width_px},{height_px},DU=254\r\n")
    hdr += "".join(f"RGB/{i},{r},{g},{b}\r\n"
                   for i, (r, g, b) in sorted(palette.items()))
    head = hdr.encode("latin-1") + b"\x1a\x00" + bytes([depth])

    # phase 1: encoded line sizes per strip (distributed)
    sizes_schema = T.StructType([
        T.StructField("ty", T.LongType()),
        T.StructField("sizes", T.ArrayType(T.LongType()))])

    def strip_pixels(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height_px - r0, tile)
        strip = np.zeros((rows_here, width_px), np.uint8)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile)
            x0 = int(r.tile_x) * tile
            ww = min(tile, width_px - x0)
            strip[:, x0:x0 + ww] = arr[:rows_here, :ww].astype(np.uint8)
        return strip

    def measure(key, pdf):
        ty = int(key[0])
        strip = strip_pixels(key, pdf) + 1        # 1-based stored index
        sizes = [len(_encode_line(strip[r], ty * tile + r, depth))
                 for r in range(strip.shape[0])]
        return pd.DataFrame({"ty": [ty], "sizes": [sizes]})

    by_row = tiles.where(F_col_band_one()).groupBy("tile_y")
    rows = by_row.applyInPandas(measure, sizes_schema).collect()
    sizes = {}
    for r in rows:
        for k, sz in enumerate(r.sizes):
            sizes[r.ty * tile + k] = int(sz)
    offs = [0] * (height_px + 1)
    offs[0] = len(head)
    for i in range(height_px):
        offs[i + 1] = offs[i] + sizes[i]
    idx_off = offs[height_px]
    total = idx_off + 4 * height_px + 4
    with open(path, "wb") as f:
        f.write(head)
        f.truncate(total)
        f.seek(idx_off)
        f.write(struct.pack(f">{height_px}i", *offs[:height_px]))
        f.write(struct.pack(">i", idx_off))

    out_schema = T.StructType([T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])
    offs_b = tiles.sparkSession.sparkContext.broadcast(offs)

    def emit(key, pdf):
        ty = int(key[0])
        strip = strip_pixels(key, pdf) + 1        # 1-based stored index
        o = offs_b.value
        fd = os.open(path, os.O_WRONLY)
        try:
            for r in range(strip.shape[0]):
                line = ty * tile + r
                enc = _encode_line(strip[r], line, depth)
                if len(enc) != o[line + 1] - o[line]:
                    raise ValueError("phase-2 encode size drifted "
                                     f"on line {line}")
                os.pwrite(fd, enc, o[line])
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [strip.shape[0]]})

    by_row.applyInPandas(emit, out_schema).collect()


def F_col_band_one():
    from pyspark.sql import functions as F
    return F.col("band") == 1
