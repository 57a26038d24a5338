"""NetCDF classic (CDF-1 / CDF-2) source — pure-numpy header parse +
byte-range distributed variable read, and a distributed pwrite sink.

Re-expresses the reference's netCDF driver front door
(/root/reference/frmts/netcdf/netcdfdataset.cpp over libnetcdf) for the
CLASSIC format only (the public file format, Unidata spec): magic
'CDF\\x01'/'CDF\\x02', big-endian tagged header (dim_list, gatt_list,
var_list with 4-byte name padding), fixed-size variables stored
row-major at `begin`, record variables strided by recsize. The header is
KB-scale and parses driver-side; pixel data reads as per-row-block byte
ranges in executor tasks (same contract as zarr.py / geotiff.py — no
single process touches the whole payload).

Scope (documented): fixed-size 2D variables (or a leading length-1/record
dimension, i.e. [1|T, Y, X] slab 0) of the six classic types; no
CDF-5, no HDF5-backed netCDF-4, no unlimited-dimension writes.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core import vsi
from ..raster.tiles import decode_px, plane_tiles, tiles_from_tasks

_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C

_TYPES = {1: ("i1", 1), 2: ("S1", 1), 3: (">i2", 2), 4: (">i4", 4),
          5: (">f4", 4), 6: (">f8", 8)}
_TYPE_OF_DTYPE = {"int8": 1, "int16": 3, "int32": 4, "int64": 4,
                  "float32": 5, "float64": 6, "uint8": 1, "uint16": 4}


class _R:
    def __init__(self, buf: bytes):
        self.b = buf
        self.p = 0

    def u32(self):
        v = struct.unpack_from(">I", self.b, self.p)[0]
        self.p += 4
        return v

    def u64(self):
        v = struct.unpack_from(">Q", self.b, self.p)[0]
        self.p += 8
        return v

    def name(self):
        n = self.u32()
        s = self.b[self.p:self.p + n].decode("utf-8")
        self.p += (n + 3) & ~3
        return s

    def values(self, nc_type, nelems):
        dt, sz = _TYPES[nc_type]
        raw = self.b[self.p:self.p + sz * nelems]
        self.p += (sz * nelems + 3) & ~3
        if nc_type == 2:
            return raw.decode("utf-8", "replace")
        return np.frombuffer(raw, dt).tolist()

    def att_list(self):
        tag = self.u32()
        n = self.u32()
        out = {}
        if tag == _NC_ATTRIBUTE:
            for _ in range(n):
                nm = self.name()
                t = self.u32()
                ne = self.u32()
                out[nm] = self.values(t, ne)
        return out


def parse_netcdf_header(path: str) -> dict:
    """-> {version, numrecs, dims: [(name, len)], gatts: {…},
    vars: {name: {dims, shape, atts, nc_type, dtype, vsize, begin}}}."""
    buf = vsi.pread(path, 0, 1 << 20)   # classic headers are KB-scale
    if buf[:3] != b"CDF" or buf[3] not in (1, 2):
        raise ValueError("not a classic NetCDF (CDF-1/CDF-2) file")
    version = buf[3]
    r = _R(buf)
    r.p = 4
    numrecs = r.u32()
    dims = []
    tag = r.u32()
    n = r.u32()
    if tag == _NC_DIMENSION:
        for _ in range(n):
            dims.append((r.name(), r.u32()))
    gatts = r.att_list()
    variables = {}
    tag = r.u32()
    n = r.u32()
    if tag == _NC_VARIABLE:
        for _ in range(n):
            nm = r.name()
            nd = r.u32()
            dimids = [r.u32() for _ in range(nd)]
            atts = r.att_list()
            nc_type = r.u32()
            vsize = r.u32()
            begin = r.u64() if version == 2 else r.u32()
            variables[nm] = {
                "dims": [dims[i][0] for i in dimids],
                "shape": [dims[i][1] for i in dimids],
                "atts": atts, "nc_type": nc_type,
                "dtype": _TYPES[nc_type][0], "vsize": vsize,
                "begin": begin}
    return {"version": version, "numrecs": numrecs, "dims": dims,
            "gatts": gatts, "vars": variables}


def read_netcdf(spark: SparkSession, path: str, var: str | None = None,
                tile: int = 256):
    """One fixed-size 2D variable (or [1|T, Y, X] slab 0) -> (engine
    tile table, meta). Executors pread contiguous row slabs."""
    hdr = parse_netcdf_header(path)
    if var is None:
        var = next(nm for nm, v in hdr["vars"].items()
                   if len([s for s in v["shape"]]) >= 2)
    v = hdr["vars"][var]
    shape = list(v["shape"])
    off = v["begin"]
    if len(shape) == 3:
        shape = shape[1:]            # slab 0 of [T|1, Y, X]
    if len(shape) != 2:
        raise ValueError(f"variable {var!r} is not 2-D")
    h, w = shape
    dt = np.dtype(v["dtype"])
    rowbytes = w * dt.itemsize
    n_ty = -(-h // tile)
    work = [(ty, off + ty * tile * rowbytes) for ty in range(n_ty)]
    wdf = spark.createDataFrame(
        pd.DataFrame(work, columns=["ty", "off"]))
    native = dt.newbyteorder("=").name

    def decode(s):
        rows = min(tile, h - s.ty * tile)
        slab = np.frombuffer(vsi.pread(path, s.off, rows * rowbytes), dt)
        return plane_tiles(slab.reshape(rows, w), 1, 0, s.ty, tile, native)

    n_parts = max(1, min(len(work), 64))
    meta = {"var": var, "shape": (h, w), "atts": v["atts"],
            "gatts": hdr["gatts"], "dims": v["dims"]}
    return tiles_from_tasks(wdf.repartition(n_parts), decode), meta


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _w_name(s: str) -> bytes:
    raw = s.encode("utf-8")
    return struct.pack(">I", len(raw)) + _pad4(raw)


def _w_atts(atts: dict) -> bytes:
    if not atts:
        return struct.pack(">II", 0, 0)
    out = struct.pack(">II", _NC_ATTRIBUTE, len(atts))
    for k, val in atts.items():
        out += _w_name(k)
        if isinstance(val, str):
            raw = val.encode("utf-8")
            out += struct.pack(">II", 2, len(raw)) + _pad4(raw)
        else:
            vals = val if isinstance(val, (list, tuple)) else [val]
            if all(isinstance(x, int) for x in vals):
                out += struct.pack(">II", 4, len(vals))
                out += _pad4(b"".join(struct.pack(">i", x) for x in vals))
            else:
                out += struct.pack(">II", 6, len(vals))
                out += b"".join(struct.pack(">d", float(x))
                                for x in vals)
    return out


def write_netcdf(tiles: DataFrame, path: str, *, width: int, height: int,
                 var: str = "data", tile: int = 256,
                 dim_names: tuple = ("y", "x"),
                 atts: dict | None = None,
                 gatts: dict | None = None) -> int:
    """Engine tile table (band 1) -> one classic CDF-1 file with a
    single fixed 2D variable. DISTRIBUTED sink: the driver writes only
    the KB-scale header and preallocates; each task pwrites its tile
    rows at begin + y*rowbytes (same contract as the GeoTIFF sink).
    Returns the payload byte count."""
    from pyspark.sql import functions as F  # noqa: F401

    first = tiles.limit(1).collect()[0]
    dt = np.dtype(str(first.dtype)).newbyteorder("=")
    nc_type = _TYPE_OF_DTYPE[dt.name]
    file_dt = np.dtype(_TYPES[nc_type][0])
    rowbytes = width * file_dt.itemsize
    vsize = ((height * rowbytes + 3) & ~3)

    hdr = b"CDF\x01" + struct.pack(">I", 0)
    hdr += struct.pack(">II", _NC_DIMENSION, 2)
    hdr += _w_name(dim_names[0]) + struct.pack(">I", height)
    hdr += _w_name(dim_names[1]) + struct.pack(">I", width)
    hdr += _w_atts(gatts or {})
    var_block = _w_name(var) + struct.pack(">III", 2, 0, 1) \
        + _w_atts(atts or {}) + struct.pack(">II", nc_type, vsize)
    begin = len(hdr) + 8 + len(var_block) + 4
    hdr += struct.pack(">II", _NC_VARIABLE, 1) + var_block \
        + struct.pack(">I", begin)
    with open(path, "wb") as f:
        f.write(hdr)
        f.truncate(begin + vsize)

    def emit(batches):
        n = 0
        fd = os.open(path, os.O_WRONLY)
        try:
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    if int(r.band) != 1:
                        continue
                    a = decode_px(r.px, r.dtype, tile).astype(file_dt)
                    y0 = int(r.tile_y) * tile
                    x0 = int(r.tile_x) * tile
                    hh = min(tile, height - y0)
                    ww = min(tile, width - x0)
                    if hh <= 0 or ww <= 0:
                        continue
                    sub = np.ascontiguousarray(a[:hh, :ww])
                    for j in range(hh):
                        os.pwrite(fd, sub[j].tobytes(),
                                  begin + (y0 + j) * rowbytes
                                  + x0 * file_dt.itemsize)
                    n += 1
        finally:
            os.close(fd)
        yield pd.DataFrame({"n": [n]})

    tiles.mapInPandas(emit, "n long").agg({"n": "sum"}).collect()
    return vsize
