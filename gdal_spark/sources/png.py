"""PNG source/sink (frmts/png/pngdataset.cpp; format: RFC 2083 / the
public PNG specification). Pure stdlib zlib + numpy — no imaging library.

Supported: bit depth 8/16, color types gray(0) / RGB(2) / gray+alpha(4) /
RGBA(6), non-interlaced. Decode handles all five scanline filters
(None/Sub/Up/Average/Paeth); rows with Sub/Average/Paeth reconstruct in a
per-row numpy loop (the filters are sequentially dependent by design —
same dependency the reference's libpng walks).

The writer is DISTRIBUTED despite PNG being a single sequential zlib
stream: each task deflates its row-strip with Z_FULL_FLUSH (making the
strip a self-contained block sequence), computes the strip's adler32, and
the driver concatenates header + strips + a terminating empty
Z_FINISH block, combining the adler32 checksums arithmetically
(the zlib adler32_combine identity) — no recompression, no pixel bytes
through the driver. Each strip lands as its own IDAT chunk (the spec
allows arbitrary IDAT splits)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks

_SIG = b"\x89PNG\r\n\x1a\n"
_MOD = 65521

# color type -> samples per pixel
_SAMPLES = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data)))


def _adler_combine(ad1: int, ad2: int, len2: int) -> int:
    """zlib adler32_combine: checksum of seq1+seq2 from the two parts."""
    a1, b1 = ad1 & 0xFFFF, (ad1 >> 16) & 0xFFFF
    a2, b2 = ad2 & 0xFFFF, (ad2 >> 16) & 0xFFFF
    rem = len2 % _MOD
    a = (a1 + a2 - 1) % _MOD
    b = (b1 + b2 + rem * (a1 - 1)) % _MOD
    return (b << 16) | a


# ---------------------------------------------------------------------------
# scanline filters (PNG spec §6)
# ---------------------------------------------------------------------------

def _unfilter(raw: np.ndarray, height: int, stride: int, bpp: int
              ) -> np.ndarray:
    """raw: (height, 1+stride) filtered scanlines -> (height, stride)."""
    out = np.zeros((height, stride), np.uint8)
    for y in range(height):
        f, line = raw[y, 0], raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride,
                                                              np.int32)
        if f == 0:
            rec = line
        elif f == 2:                        # Up
            rec = line + prev
        elif f in (1, 3, 4):                # Sub / Average / Paeth
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 1:
                    rec[x] = (line[x] + a) & 0xFF
                elif f == 3:
                    rec[x] = (line[x] + (a + b) // 2) & 0xFF
                else:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else \
                        (b if pb <= pc else c)
                    rec[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = rec & 0xFF
    return out


def decode_png(buf: bytes):
    """PNG bytes -> (array (h, w) or (h, w, samples), meta dict)."""
    if buf[:8] != _SIG:
        raise ValueError("not a PNG")
    off = 8
    meta = {}
    idat = bytearray()
    while off < len(buf):
        (ln,) = struct.unpack_from(">I", buf, off)
        typ = buf[off + 4:off + 8]
        data = buf[off + 8:off + 8 + ln]
        (crc,) = struct.unpack_from(">I", buf, off + 8 + ln)
        if crc != zlib.crc32(typ + data):
            raise ValueError(f"bad CRC in {typ!r}")
        off += 12 + ln
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", data)
            if ilace:
                raise ValueError("interlaced PNG unsupported")
            if ctype == 3:
                raise ValueError("palette PNG unsupported (use pct2rgb)")
            meta.update(width=w, height=h, depth=depth, ctype=ctype,
                        samples=_SAMPLES[ctype])
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    w, h = meta["width"], meta["height"]
    nb = meta["depth"] // 8
    stride = w * meta["samples"] * nb
    bpp = meta["samples"] * nb
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    raw = raw.reshape(h, 1 + stride)
    px = _unfilter(raw, h, stride, bpp)
    if meta["depth"] == 16:
        arr = px.reshape(h, -1).view(">u2").astype("u2")
    else:
        arr = px
    arr = arr.reshape(h, w, meta["samples"])
    return (arr[:, :, 0] if meta["samples"] == 1 else arr), meta


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w) or (h, w, samples) uint8/uint16 -> PNG bytes (filter 0)."""
    raw = _filtered_rows(arr)
    strip = (_deflate_full_flush(raw), zlib.adler32(raw), len(raw))
    return assemble_png(arr.shape[1], arr.shape[0],
                        16 if arr.dtype.itemsize == 2 else 8,
                        _ctype_of(arr), [(0, strip)])


def _ctype_of(arr: np.ndarray) -> int:
    s = 1 if arr.ndim == 2 else arr.shape[2]
    return {1: 0, 2: 4, 3: 2, 4: 6}[s]


def _filtered_rows(arr: np.ndarray) -> bytes:
    h = arr.shape[0]
    if arr.dtype.itemsize == 2:
        body = arr.astype(">u2").reshape(h, -1).view(np.uint8)
    else:
        body = np.ascontiguousarray(arr, np.uint8).reshape(h, -1)
    out = np.zeros((h, body.shape[1] + 1), np.uint8)
    out[:, 1:] = body
    return out.tobytes()


def assemble_png(width: int, height: int, depth: int, ctype: int,
                 strips) -> bytes:
    """strips: [(row0, (deflate_body, adler, rawlen))] sorted by row0 when
    produced distributed, or [(0, triple)] for one strip. Bodies must be
    FULL-FLUSH-terminated raw deflate block sequences (see
    write_png)."""
    out = bytearray(_SIG)
    out += _chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, depth,
                                       ctype, 0, 0, 0))
    bodies = [s[1] for s in sorted(strips, key=lambda s: s[0])]
    adler, total = 1, 0
    for body, ad, ln in bodies:
        adler = _adler_combine(adler, ad, ln) if total else ad
        total += ln
    # zlib wrapper: header + blocks + empty-final-block + combined adler
    stream = bytearray(b"\x78\x9c")
    for body, _, _ in bodies:
        stream += body
    stream += b"\x03\x00"                   # final empty stored block
    stream += struct.pack(">I", adler)
    out += _chunk(b"IDAT", bytes(stream))
    out += _chunk(b"IEND", b"")
    return bytes(out)


def _deflate_full_flush(raw: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate, no wrapper
    return co.compress(raw) + co.flush(zlib.Z_FULL_FLUSH)


# ---------------------------------------------------------------------------
# Spark writer / reader over the tile table
# ---------------------------------------------------------------------------

def read_png(spark: SparkSession, path: str, tile: int = 256) -> DataFrame:
    """.png file(s) -> tile table; one task per file (the zlib stream and
    the Up/Paeth filters are sequentially dependent), bands 1..samples."""
    bf = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def decode(f):
        arr, meta = decode_png(bytes(f.content))
        if arr.ndim == 2:
            arr = arr[:, :, None]
        dt = "u2" if meta["depth"] == 16 else "u1"
        for b in range(arr.shape[2]):
            yield from plane_tiles(arr[:, :, b], b + 1, 0, 0, tile, dt)

    return tiles_from_tasks(bf, decode)


def write_png(tiles: DataFrame, path: str, width_px: int, height_px: int,
              tile: int = 256, depth: int = 8) -> None:
    """Tile table (1, 2, 3 or 4 bands -> gray/graya/RGB/RGBA) -> ONE .png.
    Executors deflate row strips independently (Z_FULL_FLUSH); only the
    compressed strips and their adler32 checksums return to the driver,
    which stitches chunks without recompressing."""
    nbands = tiles.agg({"band": "max"}).collect()[0][0]
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nbands]
    npdt = np.uint16 if depth == 16 else np.uint8

    out_schema = T.StructType([
        T.StructField("row0", T.LongType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("adler", T.LongType()),
        T.StructField("rawlen", T.LongType())])

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height_px - r0, tile)
        strip = np.zeros((rows_here, width_px, nbands), npdt)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile)
            x0 = int(r.tile_x) * tile
            w = min(tile, width_px - x0)
            # clamp on narrowing like the reference (GDALCopyWords)
            strip[:, x0:x0 + w, int(r.band) - 1] = \
                np.clip(arr[:rows_here, :w], 0,
                        np.iinfo(npdt).max).astype(npdt)
        raw = _filtered_rows(strip if nbands > 1 else strip[:, :, 0])
        return pd.DataFrame([(r0, _deflate_full_flush(raw),
                              zlib.adler32(raw), len(raw))],
                            columns=[f.name for f in out_schema])

    strips = tiles.groupBy("tile_y").applyInPandas(emit, out_schema) \
        .collect()
    blob = assemble_png(width_px, height_px, depth, ctype,
                        [(s.row0, (bytes(s.body), s.adler, s.rawlen))
                         for s in strips])
    with open(path, "wb") as f:
        f.write(blob)
