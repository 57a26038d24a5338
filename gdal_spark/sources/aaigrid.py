"""Arc/Info ASCII Grid source/sink (frmts/aaigrid/aaigriddataset.cpp).

Format: a small text header (ncols/nrows/xllcorner|xllcenter/yllcorner|
yllcenter/cellsize or dx+dy/NODATA_value) followed by whitespace-separated
cell values, row 0 at the TOP.

Distribution: a driver-side newline scan (one streaming pass, no parsing)
plans byte ranges; when the file has one raster row per line — which this
module's own writer and every mainstream producer emit — each task slices
one engine tile-row strip of lines and parses it with numpy. Files with
wrapped value lines (the spec allows arbitrary token wrapping) fall back
to a single whole-file task, same granularity the reference's sequential
reader gets.

The sink is a distributed single-file writer in the style of the GeoTIFF
sink: values are formatted FIXED-WIDTH (%{w}.17g — 17 significant digits
round-trip float64 exactly), so every raster row occupies exactly
ncols*(width+1) bytes and each task pwrites its tile-row strip at a
closed-form offset into the preallocated file. No driver collect.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks

_CHUNK = 8 << 20


def _scan_offsets(path: str):
    """Streaming newline scan -> (header_lines, line_byte_offsets). A line
    is a header line while its first token starts with a letter."""
    offs = [0]
    pos = 0
    while True:
        chunk = vsi.pread(path, pos, _CHUNK)
        if not chunk:
            break
        nl = np.frombuffer(chunk, np.uint8) == 10
        offs.extend((np.flatnonzero(nl) + pos + 1).tolist())
        pos += len(chunk)
    if offs[-1] != pos:
        offs.append(pos)                    # file w/o trailing newline
    return offs


def parse_header(path: str):
    """-> (meta dict, data_byte_offset, data_line_offsets)."""
    offs = _scan_offsets(path)
    meta = {}
    hdr_end_idx = 0
    for i in range(len(offs) - 1):
        line = vsi.pread(path, offs[i], offs[i + 1] - offs[i]) \
            .decode("ascii")
        tok = line.split()
        if not tok or not tok[0][0].isalpha():
            break
        meta[tok[0].lower()] = tok[1]
        hdr_end_idx = i + 1
    ncols, nrows = int(meta["ncols"]), int(meta["nrows"])
    dx = float(meta.get("cellsize", meta.get("dx", 1.0)))
    dy = float(meta.get("cellsize", meta.get("dy", dx)))
    if "xllcenter" in meta:
        x0 = float(meta["xllcenter"]) - dx / 2.0
    else:
        x0 = float(meta.get("xllcorner", 0.0))
    if "yllcenter" in meta:
        yll = float(meta["yllcenter"]) - dy / 2.0
    else:
        yll = float(meta.get("yllcorner", 0.0))
    out = {"ncols": ncols, "nrows": nrows, "dx": dx, "dy": dy,
           "x0": x0, "y_top": yll + nrows * dy,
           "nodata": float(meta["nodata_value"])
           if "nodata_value" in meta else None}
    return out, offs[hdr_end_idx], offs[hdr_end_idx:]


def read_aaigrid(spark: SparkSession, path: str, tile: int = 256,
                 band: int = 1) -> DataFrame:
    """.asc/.grd -> engine tile table (+ the parsed header dict)."""
    meta, data_off, line_offs = parse_header(path)
    ncols, nrows = meta["ncols"], meta["nrows"]
    nodata = meta["nodata"]
    per_line = len(line_offs) - 1 >= nrows  # one raster row per line?

    if per_line:
        strips = []
        for ty in range(-(-nrows // tile)):
            r0, r1 = ty * tile, min(nrows, (ty + 1) * tile)
            strips.append((ty, r0, r1, line_offs[r0],
                           line_offs[r1] if r1 < len(line_offs) - 1
                           else line_offs[-1]))
    else:                                   # wrapped tokens: one task
        strips = [(-1, 0, nrows, data_off, line_offs[-1])]

    sdf = spark.createDataFrame(
        strips, "ty long, r0 long, r1 long, b0 long, b1 long")

    fill = 0.0 if nodata is None else nodata

    def decode(s):
        vals = np.array(vsi.pread(path, s.b0, s.b1 - s.b0).split(),
                        dtype=np.float64)
        return plane_tiles(vals.reshape(s.r1 - s.r0, ncols), band, 0,
                           s.r0 // tile, tile, "f8", nodata, fill)

    return tiles_from_tasks(sdf, decode)


def write_aaigrid(tiles: DataFrame, path: str, width_px: int,
                  height_px: int, tile: int = 256,
                  x0: float = 0.0, yll: float = 0.0, cellsize: float = 1.0,
                  nodata: float | None = None, width: int = 24) -> None:
    """Tile table -> one .asc file, written in parallel: fixed-width
    %{width}.17g cells make every raster row exactly ncols*(width+1)
    bytes, so each tile-row strip pwrites at a closed-form offset."""
    hdr = (f"ncols {width_px}\nnrows {height_px}\n"
           f"xllcorner {x0!r}\nyllcorner {yll!r}\n"
           f"cellsize {cellsize!r}\n")
    if nodata is not None:
        hdr += f"NODATA_value {nodata!r}\n"
    hdr_b = hdr.encode("ascii")
    row_bytes = width_px * (width + 1)
    total = len(hdr_b) + row_bytes * height_px
    with open(path, "wb") as f:
        f.write(hdr_b)
        f.truncate(total)
    data_off = len(hdr_b)
    fmt = f"%{width}.17g"

    out_schema = T.StructType([T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height_px - r0, tile)
        strip = np.full((rows_here, width_px), nodata if nodata is not None
                        else 0.0, np.float64)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(np.float64)
            x0p = int(r.tile_x) * tile
            w = min(tile, width_px - x0p)
            strip[:, x0p:x0p + w] = arr[:rows_here, :w]
        lines = []
        for i in range(rows_here):
            line = " ".join(fmt % v for v in strip[i]) + "\n"
            if len(line) != row_bytes:      # %24.17g never exceeds 24 chars
                raise ValueError(f"row {r0 + i} formatted to {len(line)} "
                                 f"bytes, expected {row_bytes}")
            lines.append(line)
        buf = "".join(lines).encode("ascii")
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, buf, data_off + r0 * row_bytes)
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [rows_here]})

    tiles.groupBy("tile_y").applyInPandas(emit, out_schema).collect()
