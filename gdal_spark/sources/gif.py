"""GIF raster source/sink (frmts/gif/gifdataset.cpp; GIF89a public spec).

Read: full variable-width LZW decode (giflib dgif_lib.c semantics: the
code-size bump fires when ``first_free + codes_read > 2^width``, cap 12
bits, deferred-clear tolerated), interlace reorder, GCE transparency ->
nodata, global/local color tables. The LZW stream is inherently
sequential, so one decode task per file (many files parallelize); tiles
come back through the standard tile table like BMP/PNG.

Write (DISTRIBUTED single-file sink): LZW has no flush marker, but a
CLEAR code resets both dictionary and code width — so each tile-row
strip encodes independently starting just-cleared, then pads itself to a
BYTE boundary with extra CLEAR codes (width resets to min+1 after the
first, and gcd(9, 8) = 1 makes any residue reachable with <= 7 pads).
Strip payloads then concatenate bytewise: phase 1 measures per-strip
byte lengths, the driver prefix-sums offsets, phase 2 pwrites each
strip's bytes at closed-form positions through the 255-byte sub-block
framing (payload p lives at data_base + 1 + p + p//255; each strip also
writes the 0xFF length bytes whose blocks start inside its range). Same
two-phase shape as the PNG/COG sinks — no driver pass over pixels.
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

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


# ---------------------------------------------------------------------------
# LZW codec (GIF flavor: LSB-first packing, variable 3..12-bit codes)
# ---------------------------------------------------------------------------

def lzw_decode(data: bytes, min_code: int, npix: int) -> np.ndarray:
    clear = 1 << min_code
    eoi = clear + 1
    first_free = eoi + 1
    width = min_code + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    bitbuf = 0
    nbits = 0
    pos = 0
    prev = None
    codes_read = 0
    while len(out) < npix:
        while nbits < width:
            if pos >= len(data):
                return np.frombuffer(bytes(out[:npix]), np.uint8)
            bitbuf |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            width = min_code + 1
            table = list(base)
            prev = None
            codes_read = 0
            continue
        if code == eoi:
            break
        codes_read += 1
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out += entry
        if first_free + codes_read > (1 << width) and width < 12:
            width += 1
        prev = entry
    return np.frombuffer(bytes(out[:npix]), np.uint8)


class _BitPacker:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, width: int):
        self.acc |= code << self.n
        self.n += width
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def bits(self) -> int:
        return len(self.buf) * 8 + self.n

    def flush_zero(self) -> bytes:
        if self.n:
            self.buf.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.buf)


def lzw_encode_strip(pixels: np.ndarray, min_code: int,
                     last: bool) -> bytes:
    """LZW-encode one strip starting just-cleared; ends BYTE-ALIGNED.
    Non-last strips pad with CLEAR codes (decoder state afterwards ==
    just-cleared, so the next strip concatenates bit-exactly); the last
    strip ends with EOI + zero bits."""
    clear = 1 << min_code
    eoi = clear + 1
    first_free = eoi + 1
    pk = _BitPacker()
    width = min_code + 1
    pk.put(clear, width)
    table: dict[tuple[int, int], int] = {}
    next_code = first_free
    prev = -1
    for px in map(int, pixels):
        if prev < 0:
            prev = px
            continue
        hit = table.get((prev, px))
        if hit is not None:
            prev = hit
            continue
        pk.put(prev, width)
        if next_code >= (1 << width) and width < 12:
            width += 1
        if next_code >= 4095:
            pk.put(clear, width)
            width = min_code + 1
            table = {}
            next_code = first_free
        else:
            table[(prev, px)] = next_code
            next_code += 1
        prev = px
    if prev >= 0:
        pk.put(prev, width)
        if next_code >= (1 << width) and width < 12:
            width += 1
    if last:
        pk.put(eoi, width)
        return pk.flush_zero()
    # pad to byte boundary with CLEARs: first at current width (resets
    # to min_code+1), then 0..7 more at min_code+1 bits
    pk.put(clear, width)
    w2 = min_code + 1
    k = 0
    while (pk.bits() + k * w2) % 8 != 0:
        k += 1
    for _ in range(k):
        pk.put(clear, w2)
    assert pk.bits() % 8 == 0
    return pk.flush_zero()


# ---------------------------------------------------------------------------
# container parse / read
# ---------------------------------------------------------------------------

def parse_gif(path: str, meta_only: bool = False) -> dict:
    """Container walk over a paged view — with ``meta_only`` (the
    driver-side call) only screen/palette/GCE pages are fetched and
    the LZW sub-block chain is left on disk for the executor task."""
    data = vsi.PagedReader(path)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF file")
    w, h, packed, _bg, _aspect = data.unpack("<HHBBB", 6)
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        palette = np.frombuffer(data[pos:pos + 3 * n],
                                np.uint8).reshape(n, 3).copy()
        pos += 3 * n
    transparent = None
    while pos < len(data):
        b = data[pos]
        if b == 0x21:                       # extension
            label = data[pos + 1]
            pos += 2
            sub0 = pos
            while data[pos] != 0:
                pos += data[pos] + 1
            if label == 0xF9:               # graphic control extension
                flags = data[sub0 + 1]
                if flags & 1:
                    transparent = data[sub0 + 4]
            pos += 1
        elif b == 0x2C:                     # image descriptor
            left, top, iw, ih, ipk = data.unpack("<HHHHB", pos + 1)
            pos += 10
            if ipk & 0x80:
                n = 2 << (ipk & 7)
                palette = np.frombuffer(data[pos:pos + 3 * n],
                                        np.uint8).reshape(n, 3).copy()
                pos += 3 * n
            min_code = data[pos]
            pos += 1
            if meta_only:
                return {"width": iw, "height": ih, "screen_w": w,
                        "screen_h": h, "interlace": bool(ipk & 0x40),
                        "palette": palette, "transparent": transparent,
                        "min_code": min_code, "lzw": None,
                        "bytes_fetched": data.bytes_fetched}
            chunks = []
            while data[pos] != 0:
                ln = data[pos]
                chunks.append(data[pos + 1:pos + 1 + ln])
                pos += ln + 1
            return {"width": iw, "height": ih, "screen_w": w,
                    "screen_h": h, "interlace": bool(ipk & 0x40),
                    "palette": palette, "transparent": transparent,
                    "min_code": min_code, "lzw": b"".join(chunks)}
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x} at {pos}")
    raise ValueError("GIF contains no image")


def deinterlace_order(h: int) -> np.ndarray:
    """stream row index -> display row (GIF 4-pass interlace)."""
    rows = []
    for start, step in _INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return np.array(rows, dtype=np.int64)


def read_gif(spark: SparkSession, path: str, tile: int = 256):
    """GIF -> (tile table, meta incl. palette + transparent->nodata)."""
    m = parse_gif(path, meta_only=True)
    w, h = m["width"], m["height"]
    nodata = float(m["transparent"]) if m["transparent"] is not None \
        else None
    sdf = spark.createDataFrame([(path,)], "path string")

    def decode(s):
        mm = parse_gif(s.path)
        px = lzw_decode(mm["lzw"], mm["min_code"], w * h).reshape(h, w)
        if mm["interlace"]:
            disp = np.empty_like(px)
            disp[deinterlace_order(h)] = px
            px = disp
        return plane_tiles(px, 1, 0, 0, tile, "u1", nodata)

    return tiles_from_tasks(sdf, decode), {
        "width": w, "height": h, "palette": m["palette"],
        "nodata": nodata, "interlace": m["interlace"]}


# ---------------------------------------------------------------------------
# distributed single-file writer
# ---------------------------------------------------------------------------

def _strip_pixels(pdf: pd.DataFrame, ty: int, tile: int,
                  width: int, height: int) -> np.ndarray:
    r0 = ty * tile
    rows_here = min(height - r0, tile)
    strip = np.zeros((rows_here, width), np.uint8)
    for r in pdf.itertuples(index=False):
        # clamp on narrowing like the reference (GDALCopyWords)
        arr = np.clip(decode_px(r.px, r.dtype, tile), 0,
                      255).astype(np.uint8)
        x0 = int(r.tile_x) * tile
        wv = min(tile, width - x0)
        strip[:, x0:x0 + wv] = arr[:rows_here, :wv]
    return strip.reshape(-1)


def write_gif(tiles: DataFrame, path: str, *, width: int, height: int,
              tile: int = 256, palette: np.ndarray | None = None,
              transparent: int | None = None) -> None:
    """Tile table (band 1, u1) -> one .gif; strips LZW-encode in
    parallel and pwrite at closed-form sub-block-framed offsets."""
    min_code = 8
    nty = -(-height // tile)
    last_ty = nty - 1

    meas_schema = T.StructType([T.StructField("ty", T.LongType()),
                                T.StructField("nbytes", T.LongType())])

    def measure(key, pdf):
        ty = int(key[0])
        px = _strip_pixels(pdf, ty, tile, width, height)
        payload = lzw_encode_strip(px, min_code, ty == last_ty)
        return pd.DataFrame({"ty": [ty], "nbytes": [len(payload)]})

    sizes = {int(r.ty): int(r.nbytes) for r in
             tiles.groupBy("tile_y").applyInPandas(
                 measure, meas_schema).collect()}
    missing = [ty for ty in range(nty) if ty not in sizes]
    if missing:
        raise ValueError(
            f"GIF sink needs every tile row materialized (the pixel "
            f"stream is contiguous); missing tile_y {missing[:4]}...")
    offs = {}
    acc = 0
    for ty in range(nty):
        offs[ty] = acc
        acc += sizes.get(ty, 0)
    total_payload = acc
    nblocks = -(-total_payload // 255)

    if palette is None:
        palette = np.repeat(np.arange(256, dtype=np.uint8),
                            3).reshape(256, 3)
    gct = np.zeros((256, 3), np.uint8)
    gct[:len(palette)] = palette[:256]

    hdr = bytearray()
    hdr += b"GIF89a"
    hdr += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    hdr += gct.tobytes()
    if transparent is not None:
        hdr += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent & 0xFF, 0])
    hdr += b"\x2C" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    hdr += bytes([min_code])
    data_base = len(hdr)

    def fpos(p: int) -> int:
        return data_base + 1 + p + p // 255

    end = fpos(total_payload - 1) + 1 if total_payload else data_base
    with open(path, "wb") as f:
        f.write(hdr)
        f.truncate(end + 2)
        # trailing length byte of the final partial block is covered by
        # the strip owning its block start; terminator + trailer here:
        f.seek(end)
        f.write(b"\x00\x3B")

    out_schema = T.StructType([T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])

    def emit(key, pdf):
        ty = int(key[0])
        px = _strip_pixels(pdf, ty, tile, width, height)
        payload = lzw_encode_strip(px, min_code, ty == last_ty)
        if len(payload) != sizes[ty]:
            raise RuntimeError(
                f"GIF strip {ty} re-encoded to {len(payload)} bytes, "
                f"phase 1 measured {sizes[ty]} — nondeterministic encode")
        p0 = offs[ty]
        fd = os.open(path, os.O_WRONLY)
        try:
            # payload bytes, split on 255-block boundaries
            i = 0
            while i < len(payload):
                p = p0 + i
                run = min(len(payload) - i, 255 - (p % 255))
                os.pwrite(fd, payload[i:i + run], fpos(p))
                i += run
            # length bytes for blocks starting inside [p0, p0+len)
            b0 = -(-p0 // 255)
            while 255 * b0 < p0 + len(payload):
                ln = min(255, total_payload - 255 * b0)
                os.pwrite(fd, bytes([ln]), data_base + 256 * b0)
                b0 += 1
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [len(payload)]})

    tiles.groupBy("tile_y").applyInPandas(emit, out_schema).collect()
