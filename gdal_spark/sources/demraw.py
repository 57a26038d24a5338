"""SRTMHGT / BT / ERS / IDRISI RST / SAGA GIS raw-DEM sources + sinks.

Five more members of the "tiny header + flat binary" family, mapped onto
the tile table exactly like ENVI/EHdr (sources/rawraster.py):

- SRTMHGT (``N27E086.hgt``): headerless big-endian int16 squares; the
  reference (frmts/srtmhgt/srtmhgtdataset.cpp) accepts 1201/1801/3601
  samples and reads the SW corner from the file name. This reader
  accepts any perfect square (documented divergence) and parses the
  corner when the name matches; nodata is -32768.
- BT 1.3 (frmts/raw/btdataset.cpp; the VTP "binterr1.3" header):
  256-byte header, then COLUMN-major data with each column running
  south -> north - the one layout in the family that is not row-major,
  so it gets its own column-strip planner.
- ERMapper ERS (frmts/ers/ersdataset.cpp): nested ``Begin``/``End``
  ASCII header in the ``.ers`` file, BIL binary in the sibling data
  file.
- IDRISI RST (frmts/idrisi/IdrisiDataset.cpp): ``.rdc`` "key : value"
  companion; byte/integer/real little-endian BSQ.
- SAGA GIS (frmts/saga/sagadataset.cpp): ``.sgrd`` "KEY\\t= value"
  header + ``.sdat`` binary; TOPTOBOTTOM=FALSE stores rows bottom-up,
  handled by a flipped-strip planner (no whole-raster buffer anywhere).

Distribution model (same as rawraster.py): header bytes parse on the
driver; every pixel moves through executor tasks reading/pwriting at
closed-form offsets — one task per tile-row (or tile-column for BT)
strip, numpy reshapes only, no per-scanline Python loops and no driver
collect of pixel data.
"""

from __future__ import annotations

import math
import os
import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks
from .rawraster import _plan_and_read

_STRIP_OUT = T.StructType([T.StructField("part", T.LongType()),
                           T.StructField("n", T.LongType())])


def _write_row_strips(tiles: DataFrame, path: str, *, samples: int,
                      lines: int, dtype: str, offset: int, tile: int,
                      fill: float, flip_rows: bool = False) -> None:
    """Assemble each tile-row strip from its tiles and pwrite it at a
    closed-form offset; flip_rows stores image rows bottom-up (SAGA)."""
    item = np.dtype(dtype).itemsize

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(lines - r0, tile)
        strip = np.full((rows_here, samples), fill,
                        dtype=np.dtype(dtype).newbyteorder("="))
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile)
            x0 = int(r.tile_x) * tile
            w = min(tile, samples - x0)
            strip[:, x0:x0 + w] = arr[:rows_here, :w]
        if flip_rows:
            # file row k holds image row lines-1-k; this strip lands at
            # file rows lines-r0-rows_here .. lines-r0, flipped
            off = offset + (lines - r0 - rows_here) * samples * item
            data = strip[::-1].astype(dtype).tobytes()
        else:
            off = offset + r0 * samples * item
            data = strip.astype(dtype).tobytes()
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, data, off)
        finally:
            os.close(fd)
        return pd.DataFrame({"part": [ty], "n": [rows_here]})

    tiles.groupBy("tile_y").applyInPandas(emit, _STRIP_OUT).collect()


def _read_row_strips(spark: SparkSession, path: str, *, samples: int,
                     lines: int, dtype: str, offset: int, tile: int,
                     nodata: float | None,
                     flip_rows: bool = False) -> DataFrame:
    """Row-major single-band read with optional bottom-up storage; the
    non-flipped case delegates to rawraster's planner."""
    if not flip_rows:
        return _plan_and_read(spark, path, samples=samples, lines=lines,
                              bands=1, dtype=dtype.lstrip("<>="),
                              interleave="bsq", offset=offset,
                              byte_order=1 if dtype.startswith(">")
                              else 0, nodata=nodata, tile=tile)
    item = np.dtype(dtype).itemsize
    strips = [(ty, ty * tile, min(lines, (ty + 1) * tile))
              for ty in range(-(-lines // tile))]
    sdf = spark.createDataFrame(strips, "ty long, r0 long, r1 long")
    base = np.dtype(dtype).str[1:]
    fill = 0 if nodata is None else nodata

    def decode(s):
        n = s.r1 - s.r0
        raw = vsi.pread(path, offset + (lines - s.r1) * samples * item,
                        n * samples * item)
        arr = np.frombuffer(raw, dtype=dtype).reshape(n, samples)[::-1]
        return plane_tiles(arr, 1, 0, s.ty, tile, base, nodata, fill)

    return tiles_from_tasks(sdf, decode)


# ------------------------------------------------------------- SRTMHGT

_HGT_NAME = re.compile(r"([NS])(\d{1,2})([EW])(\d{1,3})\.hgt$",
                       re.IGNORECASE)


def read_srtmhgt(spark: SparkSession, path: str, tile: int = 256):
    """SRTM .hgt -> (tile table, meta). Square big-endian int16, size
    inferred from the byte count; SW corner from the N/S E/W name when
    present (srtmhgtdataset.cpp:108 reads it the same way)."""
    size = vsi.fsize(path)
    n = int(math.isqrt(size // 2))
    if n * n * 2 != size:
        raise ValueError(f"{path}: not a square int16 raster ({size} B)")
    meta = {"samples": n, "lines": n, "nodata": -32768.0}
    m = _HGT_NAME.search(os.path.basename(path))
    if m:
        lat = int(m.group(2)) * (1 if m.group(1).upper() == "N" else -1)
        lon = int(m.group(4)) * (1 if m.group(3).upper() == "E" else -1)
        # pixel centers sit on the graticule: 1-degree cell + 1px overlap
        step = 1.0 / (n - 1)
        meta["geotransform"] = (lon - step / 2, step, 0.0,
                                lat + 1 + step / 2, 0.0, -step)
    df = _plan_and_read(spark, path, samples=n, lines=n, bands=1,
                        dtype="i2", interleave="bsq", offset=0,
                        byte_order=1, nodata=-32768.0, tile=tile)
    return df, meta


def write_srtmhgt(tiles: DataFrame, path: str, *, n: int,
                  tile: int = 256) -> None:
    """Tile table -> .hgt (big-endian int16, nodata -32768 fill)."""
    with open(path, "wb") as f:
        f.truncate(n * n * 2)
    _write_row_strips(tiles, path, samples=n, lines=n, dtype=">i2",
                      offset=0, tile=tile, fill=-32768)


# ------------------------------------------------------------------ BT

_BT_MAGIC = b"binterr1.3"


def write_bt(tiles: DataFrame, path: str, *, width: int, height: int,
             dtype: str = "f4", bounds: tuple[float, float, float, float]
             = (0.0, 1.0, 0.0, 1.0), tile: int = 256,
             fill: float = 0.0) -> None:
    """Tile table -> BT 1.3. Header fields per btdataset.cpp: magic,
    i4 columns/rows, i2 data size, i2 float flag, i2 horizontal units,
    i2 UTM zone, i2 datum, f8 left/right/bottom/top, i2 external-proj
    flag, f4 scale, zero pad to 256. Data is column-major with each
    column south -> north, so the sink groups by tile_x and pwrites
    column strips."""
    item = np.dtype(dtype).itemsize
    if item not in (2, 4):
        raise ValueError("BT stores 2-byte ints or 4-byte ints/floats")
    is_float = dtype[-2] == "f"
    left, right, bottom, top = bounds
    hdr = _BT_MAGIC + struct.pack(
        "<iihhhhh4dhf", width, height, item, 1 if is_float else 0,
        1, 0, 6326, left, right, bottom, top, 0, 1.0)
    hdr = hdr + b"\0" * (256 - len(hdr))
    with open(path, "wb") as f:
        f.write(hdr)
        f.truncate(256 + width * height * item)

    def emit(key, pdf):
        tx = int(key[0])
        x0 = tx * tile
        cols_here = min(width - x0, tile)
        block = np.full((height, cols_here), fill, dtype=dtype)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile).astype(dtype)
            y0 = int(r.tile_y) * tile
            h = min(tile, height - y0)
            block[y0:y0 + h, :] = arr[:h, :cols_here]
        # column-major, south->north: column x is block[::-1, x]
        data = block[::-1].T.copy().tobytes()
        off = 256 + x0 * height * item
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, data, off)
        finally:
            os.close(fd)
        return pd.DataFrame({"part": [tx], "n": [cols_here]})

    tiles.groupBy("tile_x").applyInPandas(emit, _STRIP_OUT).collect()


def read_bt(spark: SparkSession, path: str, tile: int = 256):
    """BT 1.3 -> (tile table, meta): column-strip tasks transpose the
    south->north columns back into row-major tiles."""
    hdr = vsi.pread(path, 0, 256)
    if hdr[:10] != _BT_MAGIC:
        raise ValueError(f"{path}: not a BT 1.3 file")
    (width, height, item, is_float, _hu, _zone, _datum, left, right,
     bottom, top, _ext, _scale) = struct.unpack("<iihhhhh4dhf", hdr[10:66])
    dtype = {(2, 0): "i2", (4, 0): "i4", (4, 1): "f4"}[(item, is_float)]
    meta = {"samples": width, "lines": height, "dtype": dtype,
            "bounds": (left, right, bottom, top)}
    strips = [(tx, tx * tile, min(width, (tx + 1) * tile))
              for tx in range(-(-width // tile))]
    sdf = spark.createDataFrame(strips, "tx long, c0 long, c1 long")

    def decode(s):
        n = s.c1 - s.c0
        raw = vsi.pread(path, 256 + s.c0 * height * item, n * height * item)
        # (cols, rows S->N) -> row-major top-down (rows, cols)
        cols = np.frombuffer(raw, dtype=dtype).reshape(n, height)
        return plane_tiles(cols.T[::-1], 1, s.tx, 0, tile, dtype)

    return tiles_from_tasks(sdf, decode), meta


# ----------------------------------------------------------------- ERS

_ERS_CELLTYPE = {"unsigned8bitinteger": "u1", "signed8bitinteger": "i1",
                 "unsigned16bitinteger": "u2", "signed16bitinteger": "i2",
                 "unsigned32bitinteger": "u4", "signed32bitinteger": "i4",
                 "ieee4bytereal": "f4", "ieee8bytereal": "f8"}
_ERS_NAME = {v: k for k, v in {
    "Unsigned8BitInteger": "u1", "Signed8BitInteger": "i1",
    "Unsigned16BitInteger": "u2", "Signed16BitInteger": "i2",
    "Unsigned32BitInteger": "u4", "Signed32BitInteger": "i4",
    "IEEE4ByteReal": "f4", "IEEE8ByteReal": "f8"}.items()}


def _parse_ers(text: str) -> dict:
    """Flatten the nested Begin/End blocks to dotted lowercase keys."""
    meta: dict = {}
    stack: list[str] = []
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        m = re.match(r"(\w+)\s+Begin$", line)
        if m:
            stack.append(m.group(1).lower())
            continue
        if re.match(r"\w+\s+End$", line):
            if stack:
                stack.pop()
            continue
        if "=" in line:
            k, v = (s.strip() for s in line.split("=", 1))
            meta[".".join(stack + [k.lower()])] = v.strip('" ')
    return meta


def read_ers(spark: SparkSession, path: str, tile: int = 256):
    """ERMapper .ers header + sibling BIL data file -> tile table."""
    ers_path = path if path.lower().endswith(".ers") else path + ".ers"
    data_path = ers_path[:-4]
    meta = _parse_ers(vsi.read_all(ers_path).decode())
    ri = "datasetheader.rasterinfo."
    dtype = _ERS_CELLTYPE[meta[ri + "celltype"].lower()]
    nodata = (float(meta[ri + "nullcellvalue"])
              if ri + "nullcellvalue" in meta else None)
    byte_order = (1 if meta.get("datasetheader.byteorder",
                                "LSBFirst").lower() == "msbfirst" else 0)
    df = _plan_and_read(
        spark, data_path, samples=int(meta[ri + "nrofcellsperline"]),
        lines=int(meta[ri + "nroflines"]),
        bands=int(meta.get(ri + "nrofbands", 1)), dtype=dtype,
        interleave="bil", offset=int(meta.get(ri + "headeroffset", 0)),
        byte_order=byte_order, nodata=nodata, tile=tile)
    return df, meta


def write_ers(tiles: DataFrame, path: str, *, samples: int, lines: int,
              dtype: str = "f4", tile: int = 256,
              nodata: float | None = None) -> None:
    """Tile table -> ERS data file + .ers header (single band: BIL ==
    BSQ, so the row-strip core applies)."""
    data_path = path[:-4] if path.lower().endswith(".ers") else path
    with open(data_path, "wb") as f:
        f.truncate(samples * lines * np.dtype(dtype).itemsize)
    _write_row_strips(tiles, data_path, samples=samples, lines=lines,
                      dtype=dtype, offset=0, tile=tile,
                      fill=0 if nodata is None else nodata)
    null_line = (f'\t\tNullCellValue\t= {nodata!r}\n'
                 if nodata is not None else "")
    with open(data_path + ".ers", "w") as f:
        f.write('DatasetHeader Begin\n'
                '\tVersion\t= "6.4"\n'
                '\tDataSetType\t= ERStorage\n'
                '\tDataType\t= Raster\n'
                '\tByteOrder\t= LSBFirst\n'
                '\tRasterInfo Begin\n'
                f'\t\tCellType\t= {_ERS_NAME[dtype]}\n'
                f'{null_line}'
                f'\t\tNrOfLines\t= {lines}\n'
                f'\t\tNrOfCellsPerLine\t= {samples}\n'
                '\t\tNrOfBands\t= 1\n'
                '\tRasterInfo End\n'
                'DatasetHeader End\n')


# ---------------------------------------------------------- IDRISI RST

_RDC_DTYPE = {"byte": "u1", "integer": "i2", "real": "f4"}
_RDC_NAME = {v: k for k, v in _RDC_DTYPE.items()}


def read_idrisi(spark: SparkSession, path: str, tile: int = 256):
    """IDRISI .rst + .rdc companion -> tile table (little-endian BSQ)."""
    stem = os.path.splitext(path)[0]
    meta = {}
    for line in vsi.read_all(stem + ".rdc").decode().splitlines():
        if ":" in line:
            k, v = line.split(":", 1)
            meta[k.strip().lower()] = v.strip()
    dtype = _RDC_DTYPE[meta["data type"].lower()]
    nodata = None
    if meta.get("flag value", "none").lower() not in ("none", ""):
        nodata = float(meta["flag value"])
    df = _plan_and_read(
        spark, stem + ".rst", samples=int(meta["columns"]),
        lines=int(meta["rows"]), bands=1, dtype=dtype, interleave="bsq",
        offset=0, byte_order=0, nodata=nodata, tile=tile)
    return df, meta


def write_idrisi(tiles: DataFrame, path: str, *, samples: int,
                 lines: int, dtype: str = "i2", tile: int = 256,
                 vmin: float = 0.0, vmax: float = 0.0) -> None:
    stem = os.path.splitext(path)[0]
    with open(stem + ".rst", "wb") as f:
        f.truncate(samples * lines * np.dtype(dtype).itemsize)
    _write_row_strips(tiles, stem + ".rst", samples=samples, lines=lines,
                      dtype=dtype, offset=0, tile=tile, fill=0)
    with open(stem + ".rdc", "w") as f:
        f.write("file format : IDRISI Raster A.1\n"
                f"file title  : {os.path.basename(stem)}\n"
                f"data type   : {_RDC_NAME[dtype]}\n"
                "file type   : binary\n"
                f"columns     : {samples}\n"
                f"rows        : {lines}\n"
                "ref. system : plane\n"
                "ref. units  : m\n"
                "unit dist.  : 1.0000000\n"
                f"min. X      : 0.0000000\n"
                f"max. X      : {float(samples)}\n"
                f"min. Y      : 0.0000000\n"
                f"max. Y      : {float(lines)}\n"
                "pos'n error : unknown\n"
                "resolution  : 1.0000000\n"
                f"min. value  : {vmin}\n"
                f"max. value  : {vmax}\n"
                f"display min : {vmin}\n"
                f"display max : {vmax}\n"
                "value units : unspecified\n"
                "value error : unknown\n"
                "flag value  : none\n"
                "flag def'n  : none\n"
                "legend cats : 0\n")


# ------------------------------------------------------------ SAGA GIS

_SAGA_DTYPE = {"byte_unsigned": "u1", "byte": "i1",
               "shortint_unsigned": "u2", "shortint": "i2",
               "integer_unsigned": "u4", "integer": "i4",
               "float": "f4", "double": "f8"}
_SAGA_NAME = {v: k.upper() for k, v in _SAGA_DTYPE.items()}


def read_saga(spark: SparkSession, path: str, tile: int = 256):
    """SAGA .sgrd header + .sdat binary -> tile table; TOPTOBOTTOM
    FALSE (the SAGA default) stores rows bottom-up and runs through the
    flipped-strip planner."""
    stem = os.path.splitext(path)[0]
    meta = {}
    for line in vsi.read_all(stem + ".sgrd").decode().splitlines():
        if "=" in line:
            k, v = line.split("=", 1)
            meta[k.strip().upper()] = v.strip()
    dtype = _SAGA_DTYPE[meta["DATAFORMAT"].lower()]
    if meta.get("BYTEORDER_BIG", "FALSE").upper() == "TRUE":
        dtype = ">" + dtype
    nodata = (float(meta["NODATA_VALUE"])
              if "NODATA_VALUE" in meta else None)
    flip = meta.get("TOPTOBOTTOM", "FALSE").upper() == "FALSE"
    df = _read_row_strips(
        spark, stem + ".sdat", samples=int(meta["CELLCOUNT_X"]),
        lines=int(meta["CELLCOUNT_Y"]), dtype=dtype,
        offset=int(meta.get("DATAFILE_OFFSET", 0)), tile=tile,
        nodata=nodata, flip_rows=flip)
    return df, meta


def write_saga(tiles: DataFrame, path: str, *, samples: int, lines: int,
               dtype: str = "f4", tile: int = 256, cellsize: float = 1.0,
               xmin: float = 0.0, ymin: float = 0.0,
               nodata: float = -99999.0) -> None:
    stem = os.path.splitext(path)[0]
    with open(stem + ".sdat", "wb") as f:
        f.truncate(samples * lines * np.dtype(dtype).itemsize)
    _write_row_strips(tiles, stem + ".sdat", samples=samples,
                      lines=lines, dtype=dtype, offset=0, tile=tile,
                      fill=nodata, flip_rows=True)
    with open(stem + ".sgrd", "w") as f:
        f.write(f"NAME\t= {os.path.basename(stem)}\n"
                "DESCRIPTION\t= gdal_spark\n"
                f"DATAFORMAT\t= {_SAGA_NAME[dtype]}\n"
                "DATAFILE_OFFSET\t= 0\n"
                "BYTEORDER_BIG\t= FALSE\n"
                f"POSITION_XMIN\t= {xmin + cellsize / 2}\n"
                f"POSITION_YMIN\t= {ymin + cellsize / 2}\n"
                f"CELLCOUNT_X\t= {samples}\n"
                f"CELLCOUNT_Y\t= {lines}\n"
                f"CELLSIZE\t= {cellsize}\n"
                "Z_FACTOR\t= 1.000000\n"
                f"NODATA_VALUE\t= {nodata}\n"
                "TOPTOBOTTOM\t= FALSE\n")
