"""ENVI and ESRI EHdr (BIL/BSQ/BIP) raw-binary raster source/sink.

Reference: frmts/raw/envidataset.cpp (ENVI .hdr sidecar: ``samples``,
``lines``, ``bands``, ``header offset``, ``data type``, ``interleave``,
``byte order``, ``map info``) and frmts/raw/ehdrdataset.cpp (ESRI .hdr:
``NROWS/NCOLS/NBANDS/NBITS/PIXELTYPE/BYTEORDER/LAYOUT/ULXMAP/ULYMAP/
XDIM/YDIM/NODATA``). Both describe the same thing: a tiny text header
plus one flat uncompressed binary blob — the ideal distributed format.

Distribution: the header parse is a driver-side read of a few hundred
bytes; every pixel byte is then fetched by executor tasks at closed-form
offsets (one task per (band, tile-row strip) for BSQ, per tile-row strip
for BIL/BIP). The reference reads these through RawRasterBand's
per-scanline ReadBlock loop on one thread; here N strips stream in
parallel and the interleave math is numpy reshapes, not per-line loops.

The sink mirrors the GeoTIFF/AAIGrid sinks: the driver preallocates the
file, each task pwrites its strip at offset ``hdr + ((band·lines) +
row)·samples·itemsize`` (BSQ) — no shuffle beyond the groupBy that
assembles a strip, no driver collect of pixel data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks

# ENVI "data type" codes (envidataset.cpp GetEnviType)
_ENVI_DTYPE = {1: "u1", 2: "i2", 3: "i4", 4: "f4", 5: "f8",
               12: "u2", 13: "u4", 14: "i8", 15: "u8"}
_ENVI_CODE = {v: k for k, v in _ENVI_DTYPE.items()}

def parse_envi_header(hdr_path: str) -> dict:
    """ENVI headers are ``key = value`` lines; values may be {}-wrapped
    multi-line lists (map info, band names). envidataset.cpp:ReadHeader."""
    text = vsi.read_all(hdr_path).decode("ascii", errors="replace")
    meta: dict = {}
    key, buf, in_braces = None, [], False
    for line in text.splitlines():
        if in_braces:
            buf.append(line)
            if "}" in line:
                meta[key] = " ".join(buf).split("{", 1)[1].rsplit("}", 1)[0]
                in_braces = False
            continue
        if "=" not in line:
            continue
        key, val = (s.strip() for s in line.split("=", 1))
        key = key.lower()
        if val.startswith("{") and "}" not in val:
            buf, in_braces = [val], True
            continue
        meta[key] = val.strip("{} ")
    return meta


def _plan_and_read(spark: SparkSession, raw_path: str, *, samples: int,
                   lines: int, bands: int, dtype: str, interleave: str,
                   offset: int, byte_order: int, nodata: float | None,
                   tile: int) -> DataFrame:
    item = np.dtype(dtype).itemsize
    swap = byte_order != (0 if np.little_endian else 1) and item > 1
    interleave = interleave.lower()[:3]

    strips = []
    for ty in range(-(-lines // tile)):
        r0, r1 = ty * tile, min(lines, (ty + 1) * tile)
        if interleave == "bsq":
            for b in range(bands):
                b0 = offset + (b * lines + r0) * samples * item
                strips.append((b + 1, ty, r0, r1, b0))
        else:  # bil / bip read all bands of the strip in one task
            b0 = offset + r0 * samples * bands * item
            strips.append((0, ty, r0, r1, b0))
    sdf = spark.createDataFrame(
        strips, "band int, ty long, r0 long, r1 long, b0 long")

    fill = 0 if nodata is None else nodata

    def decode(s):
        # BSQ tasks read one band slab, BIL/BIP tasks every band's rows
        n = (s.r1 - s.r0) * samples * (1 if s.band > 0 else bands) * item
        # truncated input: keep the partial item's read bytes, zero-fill
        # only the remainder (GDAL RawRasterBand memsets past the short
        # read)
        arr = np.frombuffer(vsi.pread(raw_path, s.b0, n).ljust(n, b"\0"),
                            dtype=dtype)
        if swap:
            arr = arr.byteswap()
        if s.band > 0:
            cube, blist = arr.reshape(1, -1, samples), [s.band]
        else:
            blist = range(1, bands + 1)
            if interleave == "bil":  # (row, band, col)
                cube = arr.reshape(-1, bands, samples).transpose(1, 0, 2)
            else:                    # bip: (row, col, band)
                cube = arr.reshape(-1, samples, bands).transpose(2, 0, 1)
        for plane, b in zip(cube, blist):
            yield from plane_tiles(plane, b, 0, s.ty, tile, dtype, nodata,
                                   fill)

    return tiles_from_tasks(sdf, decode)


def read_envi(spark: SparkSession, path: str, tile: int = 256):
    """ENVI image -> (tile table, header meta). `path` is the binary
    (sidecar `<path>.hdr` or `<stem>.hdr`) or the .hdr itself."""
    if path.lower().endswith(".hdr"):
        hdr_path = path
        stem = path[:-4]
        raw_path = next((stem + e for e in ("", ".dat", ".img", ".bil", ".bsq", ".bip")
                         if vsi.exists(stem + e) and not (stem + e).lower().endswith(".hdr")),
                        stem)
    else:
        raw_path = path
        hdr_path = next((c for c in (path + ".hdr",
                                     os.path.splitext(path)[0] + ".hdr")
                         if vsi.exists(c)), path + ".hdr")
    meta = parse_envi_header(hdr_path)
    dtype = _ENVI_DTYPE[int(meta["data type"])]
    nodata = (float(meta["data ignore value"])
              if "data ignore value" in meta else None)
    df = _plan_and_read(
        spark, raw_path, samples=int(meta["samples"]),
        lines=int(meta["lines"]), bands=int(meta.get("bands", 1)),
        dtype=dtype, interleave=meta.get("interleave", "bsq"),
        offset=int(meta.get("header offset", 0)),
        byte_order=int(meta.get("byte order", 0)), nodata=nodata,
        tile=tile)
    return df, meta


def write_envi(tiles: DataFrame, path: str, *, samples: int, lines: int,
               bands: int = 1, dtype: str = "f8", tile: int = 256,
               interleave: str = "bsq", nodata: float | None = None,
               map_info: str | None = None) -> None:
    """Tile table -> flat BSQ binary + .hdr sidecar, written in parallel
    (per (band, tile-row) pwrite at a closed-form offset)."""
    if interleave.lower() != "bsq":
        raise ValueError("sink writes BSQ; read supports bsq/bil/bip")
    item = np.dtype(dtype).itemsize
    total = samples * lines * bands * item
    with open(path, "wb") as f:
        f.truncate(total)
    hdr = ["ENVI", f"samples = {samples}", f"lines = {lines}",
           f"bands = {bands}", "header offset = 0",
           "file type = ENVI Standard",
           f"data type = {_ENVI_CODE[np.dtype(dtype).str.lstrip('<>|=')]}",
           "interleave = bsq",
           f"byte order = {0 if np.little_endian else 1}"]
    if nodata is not None:
        hdr.append(f"data ignore value = {nodata!r}")
    if map_info:
        hdr.append("map info = {%s}" % map_info)
    with open(os.path.splitext(path)[0] + ".hdr", "w") as f:
        f.write("\n".join(hdr) + "\n")

    out_schema = T.StructType([T.StructField("band", T.IntegerType()),
                               T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])

    def emit(key, pdf):
        b, ty = int(key[0]), int(key[1])
        r0 = ty * tile
        rows_here = min(lines - r0, tile)
        strip = np.full((rows_here, samples),
                        nodata if nodata is not None else 0,
                        dtype=dtype)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(dtype)
            x0 = int(r.tile_x) * tile
            w = min(tile, samples - x0)
            strip[:, x0:x0 + w] = arr[:rows_here, :w]
        off = ((b - 1) * lines + r0) * samples * item
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, strip.tobytes(), off)
        finally:
            os.close(fd)
        return pd.DataFrame({"band": [b], "ty": [ty], "n": [rows_here]})

    tiles.groupBy("band", "tile_y").applyInPandas(emit, out_schema).collect()


# ---------------------------------------------------------------- EHdr

_EHDR_PIXEL = {("SIGNEDINT", 8): "i1", ("SIGNEDINT", 16): "i2",
               ("SIGNEDINT", 32): "i4", ("UNSIGNEDINT", 8): "u1",
               ("UNSIGNEDINT", 16): "u2", ("UNSIGNEDINT", 32): "u4",
               ("FLOAT", 32): "f4", ("FLOAT", 64): "f8"}


def read_ehdr(spark: SparkSession, path: str, tile: int = 256):
    """ESRI .hdr-labelled raster (ehdrdataset.cpp): NROWS/NCOLS/NBANDS/
    NBITS/PIXELTYPE/BYTEORDER/LAYOUT keys, whitespace separated, any
    case; binary is the sibling .bil/.bsq/.bip/.flt."""
    stem = os.path.splitext(path)[0]
    hdr_path = path if path.lower().endswith(".hdr") else stem + ".hdr"
    if path.lower().endswith(".hdr"):
        path = next(stem + e for e in (".bil", ".bsq", ".bip", ".flt", ".img")
                    if vsi.exists(stem + e))
    meta = {}
    for line in vsi.read_all(hdr_path).decode().splitlines():
        tok = line.split()
        if len(tok) >= 2:
            meta[tok[0].upper()] = tok[1]
    nbits = int(meta.get("NBITS", 8))
    ptype = meta.get("PIXELTYPE",
                     "FLOAT" if path.lower().endswith(".flt")
                     else "UNSIGNEDINT").upper()
    dtype = _EHDR_PIXEL[(ptype, nbits)]
    layout = meta.get("LAYOUT", "BIL").lower()
    byte_order = 0 if meta.get("BYTEORDER", "I").upper() in ("I", "LSBFIRST") else 1
    nodata = float(meta["NODATA"]) if "NODATA" in meta else None
    df = _plan_and_read(
        spark, path, samples=int(meta["NCOLS"]), lines=int(meta["NROWS"]),
        bands=int(meta.get("NBANDS", 1)), dtype=dtype, interleave=layout,
        offset=int(meta.get("SKIPBYTES", 0)), byte_order=byte_order,
        nodata=nodata, tile=tile)
    return df, meta


def write_ehdr(tiles: DataFrame, path: str, *, samples: int, lines: int,
               bands: int = 1, dtype: str = "f4", tile: int = 256,
               ulx: float = 0.0, uly: float = 0.0, dx: float = 1.0,
               dy: float = 1.0, nodata: float | None = None) -> None:
    """Tile table -> .bil + ESRI .hdr (BIL with one band == BSQ, so the
    BSQ writer core is reused; multi-band writes LAYOUT BSQ, which the
    reference reads the same way)."""
    write_envi(tiles, path, samples=samples, lines=lines, bands=bands,
               dtype=dtype, tile=tile, nodata=nodata)
    os.remove(os.path.splitext(path)[0] + ".hdr")
    dt = np.dtype(dtype)
    ptype = ("FLOAT" if dt.kind == "f"
             else "SIGNEDINT" if dt.kind == "i" else "UNSIGNEDINT")
    hdr = [f"NROWS {lines}", f"NCOLS {samples}", f"NBANDS {bands}",
           f"NBITS {dt.itemsize * 8}", f"PIXELTYPE {ptype}",
           "BYTEORDER I" if np.little_endian else "BYTEORDER M",
           "LAYOUT BIL" if bands == 1 else "LAYOUT BSQ",
           f"ULXMAP {ulx!r}", f"ULYMAP {uly!r}",
           f"XDIM {dx!r}", f"YDIM {dy!r}"]
    if nodata is not None:
        hdr.append(f"NODATA {nodata!r}")
    with open(os.path.splitext(path)[0] + ".hdr", "w") as f:
        f.write("\n".join(hdr) + "\n")
