"""GRIB edition 1 source (WMO FM 92; reference: frmts/grib/).

A GRIB1 file is a concatenation of self-delimiting messages:

  IS  "GRIB" + 3-byte total length + edition(1)
  PDS product definition (parameter, level, date, decimal scale D)
  GDS grid description (type 0 = regular lat/lon: Ni, Nj, corner
      coordinates in millidegrees, increments, scanning mode)
  BDS binary data (binary scale E, IBM-370 float32 reference value R,
      bits-per-value, big-endian packed field)
  ES  "7777"

Decoded value = (R + X * 2^E) / 10^D — grid-point simple packing only
(the reference's degrib path handles the same for edition 1; spectral
and second-order packing are out of scope). The packed bit field
unpacks through one vectorized ``np.unpackbits`` reshape — no per-value
Python loop.

Spark layout: the driver scans message offsets (reading only the 8-byte
IS of each message), executors decode whole messages in parallel and
emit the engine's standard tile table (band = 1-based message index).
The fixture writer emits simple-packed messages for round-trip tests.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks


# ---------------------------------------------------------------------------
# IBM-370 float32 (the GRIB1 reference-value encoding)
# ---------------------------------------------------------------------------

def ibm_to_float(b: bytes) -> float:
    (w,) = struct.unpack(">I", b)
    s = -1.0 if w >> 31 else 1.0
    e = (w >> 24) & 0x7F
    m = w & 0xFFFFFF
    if m == 0:
        return 0.0
    return s * (m / 16777216.0) * 16.0 ** (e - 64)


def float_to_ibm(v: float) -> bytes:
    if v == 0.0:
        return b"\x00\x00\x00\x00"
    s = 0x80000000 if v < 0 else 0
    v = abs(v)
    e = 64
    # normalize mantissa into [1/16, 1)
    while v >= 1.0:
        v /= 16.0
        e += 1
    while v < 1.0 / 16.0:
        v *= 16.0
        e -= 1
    m = int(round(v * 16777216.0))
    if m >= 16777216:
        m //= 16
        e += 1
    return struct.pack(">I", s | (e << 24) | m)


def _i3(b: bytes, off: int) -> int:
    return (b[off] << 16) | (b[off + 1] << 8) | b[off + 2]


def _s3(b: bytes, off: int) -> int:
    """3-byte sign-magnitude (GRIB1 coordinates)."""
    v = _i3(b, off)
    return -(v & 0x7FFFFF) if v & 0x800000 else v


def _s2(b: bytes, off: int) -> int:
    """2-byte sign-magnitude (scale factors)."""
    v = (b[off] << 8) | b[off + 1]
    return -(v & 0x7FFF) if v & 0x8000 else v


# ---------------------------------------------------------------------------
# read
# ---------------------------------------------------------------------------

def scan_messages(path: str):
    """Driver-side index: [(offset, length)] per GRIB1 message."""
    out = []
    buf = vsi.PagedReader(path)
    off = 0
    while True:
        head = buf[off:off + 8]
        if len(head) < 8:
            break
        if head[:4] != b"GRIB":
            off += 1          # tolerate inter-message padding
            continue
        if head[7] != 1:
            raise ValueError(f"GRIB edition {head[7]} unsupported")
        ln = _i3(head, 4)
        out.append((off, ln))
        off += ln
    return out


def parse_message(buf: bytes):
    """One GRIB1 message -> (values (Nj, Ni) float64, meta dict)."""
    if buf[:4] != b"GRIB" or buf[7] != 1:
        raise ValueError("not a GRIB1 message")
    pos = 8
    pds_len = _i3(buf, pos)
    pds = buf[pos:pos + pds_len]
    has_gds = bool(pds[7] & 0x80)
    has_bms = bool(pds[7] & 0x40)
    param = pds[8]
    level_type = pds[9]
    level = (pds[10] << 8) | pds[11]
    d_scale = _s2(pds, 26)
    pos += pds_len
    if not has_gds:
        raise ValueError("GDS-less GRIB1 unsupported")
    gds_len = _i3(buf, pos)
    gds = buf[pos:pos + gds_len]
    if gds[5] != 0:
        raise ValueError(f"grid type {gds[5]} unsupported (latlon only)")
    ni = (gds[6] << 8) | gds[7]
    nj = (gds[8] << 8) | gds[9]
    lat1 = _s3(gds, 10) / 1000.0
    lon1 = _s3(gds, 13) / 1000.0
    lat2 = _s3(gds, 17) / 1000.0
    lon2 = _s3(gds, 20) / 1000.0
    pos += gds_len
    if has_bms:
        raise ValueError("bitmap section unsupported (dense grids only)")
    bds_len = _i3(buf, pos)
    bds = buf[pos:pos + bds_len]
    flags = bds[3] >> 4
    if flags & 0b1100:
        raise ValueError("non-grid-point / non-simple packing unsupported")
    unused_bits = bds[3] & 0x0F
    e_scale = _s2(bds, 4)
    ref = ibm_to_float(bds[6:10])
    nbits = bds[10]
    if nbits == 0:                      # constant field
        vals = np.full(ni * nj, ref, np.float64)
    else:
        packed = np.frombuffer(bds, np.uint8, count=bds_len - 11,
                               offset=11)
        bits = np.unpackbits(packed)
        total = (len(bits) - unused_bits) // nbits * nbits
        x = bits[:total].reshape(-1, nbits)
        weights = (1 << np.arange(nbits - 1, -1, -1)).astype(np.int64)
        xv = x.astype(np.int64) @ weights
        vals = ref + xv[: ni * nj].astype(np.float64) * 2.0 ** e_scale
    vals = vals / 10.0 ** d_scale
    meta = {"param": param, "level_type": level_type, "level": level,
            "ni": ni, "nj": nj, "lat1": lat1, "lon1": lon1,
            "lat2": lat2, "lon2": lon2, "d_scale": d_scale,
            "e_scale": e_scale, "nbits": nbits}
    return vals.reshape(nj, ni), meta


def read_grib(spark: SparkSession, path: str, tile: int = 256):
    """-> (tile table, [meta per message]); band = message index + 1."""
    msgs = scan_messages(path)
    metas = []
    for off, ln in msgs:          # headers only: PDS+GDS, no BDS math
        head = vsi.pread(path, off, min(ln, 4096))
        # light parse for meta (sections are small; reuse the full
        # parser on the header slice only when it fits, else executor)
        metas.append(None if len(head) < ln else parse_message(head)[1])
    idx = spark.createDataFrame(
        pd.DataFrame([(i, off, ln) for i, (off, ln) in enumerate(msgs)],
                     columns=["msg", "off", "len"]))
    idx = idx.repartition(min(len(msgs), 32) or 1)

    def decode(s):
        vals, _meta = parse_message(vsi.pread(path, s.off, s.len))
        return plane_tiles(vals, s.msg + 1, 0, 0, tile, "float64")

    return tiles_from_tasks(idx, decode), metas


# ---------------------------------------------------------------------------
# fixture writer (simple packing)
# ---------------------------------------------------------------------------

def write_grib(arrays, path: str, *, lat1: float = 60.0,
               lon1: float = -10.0, lat2: float = 40.0,
               lon2: float = 10.0, param: int = 11,
               level: int = 850, nbits: int = 12,
               d_scale: int = 2) -> None:
    """[(Nj, Ni) float arrays] -> one GRIB1 message each (simple packing,
    scanning mode 0: +i, -j from the north-west corner)."""
    out = bytearray()
    for arr in arrays:
        a = np.asarray(arr, np.float64) * 10.0 ** d_scale
        amin = float(a.min())
        amax = float(a.max())
        # choose binary scale E so (max-min)/2^E fits nbits
        e_scale = 0
        span = amax - amin
        while span / 2.0 ** e_scale > (1 << nbits) - 1:
            e_scale += 1
        ref = amin
        ref_ibm = float_to_ibm(ref)
        ref = ibm_to_float(ref_ibm)       # quantize like a real encoder
        x = np.maximum(np.rint((a - ref) / 2.0 ** e_scale), 0) \
            .astype(np.int64)
        x = np.minimum(x, (1 << nbits) - 1)
        nj, ni = a.shape

        pds = bytearray(28)
        pds[0:3] = (28).to_bytes(3, "big")
        pds[3] = 3                         # table version
        pds[4] = 98                        # centre
        pds[5] = 1                         # process
        pds[6] = 255                       # grid id: in GDS
        pds[7] = 0x80                      # GDS present, no BMS
        pds[8] = param
        pds[9] = 100                       # isobaric level (hPa)
        pds[10:12] = int(level).to_bytes(2, "big")
        pds[12:17] = bytes([26, 1, 1, 0, 0])   # yy mm dd hh min
        pds[17] = 1                        # time unit: hour
        pds[25] = 1                        # century
        ds = d_scale if d_scale >= 0 else (0x8000 | -d_scale)
        pds[26:28] = int(ds).to_bytes(2, "big")

        def s3(v):
            v = int(round(v * 1000.0))
            return ((0x800000 | -v) if v < 0 else v).to_bytes(3, "big")

        gds = bytearray(32)
        gds[0:3] = (32).to_bytes(3, "big")
        gds[3] = 0                         # NV
        gds[4] = 255                       # PV: none
        gds[5] = 0                         # latlon grid
        gds[6:8] = int(ni).to_bytes(2, "big")
        gds[8:10] = int(nj).to_bytes(2, "big")
        gds[10:13] = s3(lat1)
        gds[13:16] = s3(lon1)
        gds[16] = 0x80                     # increments given
        gds[17:20] = s3(lat2)
        gds[20:23] = s3(lon2)
        gds[23:25] = int(round(abs(lon2 - lon1) / max(ni - 1, 1)
                               * 1000.0)).to_bytes(2, "big")
        gds[25:27] = int(round(abs(lat1 - lat2) / max(nj - 1, 1)
                               * 1000.0)).to_bytes(2, "big")
        gds[27] = 0                        # scanning mode: +i, -j

        nbit_total = x.size * nbits
        nbytes = -(-nbit_total // 8)
        unused = nbytes * 8 - nbit_total
        bits = ((x.reshape(-1, 1)
                 >> np.arange(nbits - 1, -1, -1)) & 1).astype(np.uint8)
        packed = np.packbits(bits.ravel())
        bds_len = 11 + len(packed)
        if bds_len % 2:                    # BDS must be even-length
            packed = np.concatenate([packed, np.zeros(1, np.uint8)])
            bds_len += 1
            unused += 8
        bds = bytearray(11)
        bds[0:3] = bds_len.to_bytes(3, "big")
        bds[3] = unused & 0x0F
        es = e_scale if e_scale >= 0 else (0x8000 | -e_scale)
        bds[4:6] = int(es).to_bytes(2, "big")
        bds[6:10] = ref_ibm
        bds[10] = nbits

        body = bytes(pds) + bytes(gds) + bytes(bds) + packed.tobytes() \
            + b"7777"
        total = 8 + len(body)
        out += b"GRIB" + total.to_bytes(3, "big") + bytes([1]) + body
    with open(path, "wb") as f:
        f.write(bytes(out))
