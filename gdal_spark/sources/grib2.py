"""GRIB edition 2 source (WMO FM 92 GRIB2; reference: frmts/grib/ via
degrib/g2clib).

A GRIB2 file concatenates self-delimiting messages; each message is a
sequence of numbered sections (0 indicator, 1 identification, 2 local,
3 grid, 4 product, 5 data representation, 6 bitmap, 7 data, 8 = "7777")
and may repeat sections 4..7 for multiple fields. Supported data
representation templates: 5.0 simple packing, 5.2 complex packing,
5.3 complex packing + spatial differencing (orders 1 and 2 — the
g2clib comunpack algorithm with byte-aligned header arrays), 5.4 IEEE
float, 5.41 PNG packing (decoded by the in-repo PNG codec). Bitmap
section semantics follow the reference: masked cells read as 9999
(GDAL's GRIB nodata).

Distribution matches grib.py: the driver scans message extents (a pure
offset walk over section lengths), fields decode in parallel one
message per task, and each decoded grid tiles onto the engine tile
table. Multi-GB archives parallelize across their many messages; the
100 TB shape is a directory of such files, one scan task per file.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks

NODATA = 9999.0


def _u(b: bytes, off: int, n: int) -> int:
    return int.from_bytes(b[off:off + n], "big")


def _s(b: bytes, off: int, n: int) -> int:
    """GRIB2 sign-magnitude integer (MSB = sign)."""
    v = _u(b, off, n)
    top = 1 << (8 * n - 1)
    return -(v & ~top) if v & top else v


def scan_messages(path: str):
    """Driver-side index: [(offset, length)] per GRIB2 message (edition
    1 messages in mixed files are skipped here; grib.py reads those)."""
    out = []
    buf = vsi.PagedReader(path)
    off = 0
    while True:
        head = buf[off:off + 16]
        if len(head) < 16:
            break
        if head[:4] != b"GRIB":
            off += 1
            continue
        if head[7] == 2:
            ln = _u(head, 8, 8)
            out.append((off, ln))
            off += ln
        elif head[7] == 1:
            off += _u(head, 4, 3)      # skip edition-1 message
        else:
            off += 1
    return out


def _bits_to_ints(bits: np.ndarray, nbits: int, count: int) -> np.ndarray:
    if nbits == 0:
        return np.zeros(count, np.int64)
    take = bits[:count * nbits].reshape(count, nbits).astype(np.int64)
    w = (1 << np.arange(nbits - 1, -1, -1)).astype(np.int64)
    return take @ w


def _unpack_simple(data: bytes, n: int, nbits: int) -> np.ndarray:
    if nbits == 0:
        return np.zeros(n, np.int64)
    bits = np.unpackbits(np.frombuffer(data, np.uint8))
    return _bits_to_ints(bits, nbits, n)


def _unpack_complex(data: bytes, n: int, tmpl: bytes,
                    template: int):
    """g2clib comunpack twin (frmts/grib/degrib/g2clib/comunpack.c):
    spatial-differencing header (ival1/ival2 UNSIGNED, minsd
    sign+magnitude — g2clib\'s exact bit reads), byte-aligned group
    refs/widths/lengths, per-group data, missing-value compaction
    (management 1/2), and the differencing recurrence over the
    COMPACTED non-missing stream. Returns (x int64 compacted,
    miss flags (n,) or None, rmiss1, rmiss2)."""
    nbits = tmpl[19]
    itype = tmpl[20]
    mmgmt = tmpl[22]
    rmiss1 = rmiss2 = None
    if mmgmt in (1, 2):
        rmiss1 = (struct.unpack(">f", tmpl[23:27])[0] if itype == 0
                  else float(_s(tmpl, 23, 4)))
        if mmgmt == 2:
            rmiss2 = (struct.unpack(">f", tmpl[27:31])[0] if itype == 0
                      else float(_s(tmpl, 27, 4)))
    ng = _u(tmpl, 31, 4)
    gw_ref = tmpl[35]
    gw_bits = tmpl[36]
    gl_ref = _u(tmpl, 37, 4)
    gl_inc = tmpl[41]
    gl_last = _u(tmpl, 42, 4)
    gl_bits = tmpl[46]
    bits = np.unpackbits(np.frombuffer(data, np.uint8))
    pos_bits = 0

    def take_raw(nb):
        nonlocal pos_bits
        v = int(_bits_to_ints(bits[pos_bits:], nb, 1)[0]) if nb else 0
        pos_bits += nb
        return v

    ival1 = ival2 = minsd = 0
    order = 0
    if template == 3:
        order = tmpl[47]
        nbitsd = tmpl[48] * 8
        if nbitsd:
            ival1 = take_raw(nbitsd)          # unsigned (g2clib quirk)
            if order == 2:
                ival2 = take_raw(nbitsd)
            sign = take_raw(1)
            minsd = take_raw(nbitsd - 1)
            if sign:
                minsd = -minsd

    def take_arr(nb, count):
        nonlocal pos_bits
        if nb == 0:
            return np.zeros(count, np.int64)
        vals = _bits_to_ints(bits[pos_bits:], nb, count)
        pos_bits += nb * count
        pos_bits = (pos_bits + 7) // 8 * 8    # byte-align per array
        return vals

    refs = take_arr(nbits, ng)
    widths = take_arr(gw_bits, ng) + gw_ref
    lens = take_arr(gl_bits, ng) * gl_inc + gl_ref
    if ng:
        lens[-1] = gl_last
    total = int(lens.sum())
    if total < n:
        raise ValueError(f"group lengths sum {total} < grid {n}")
    x = np.empty(total, np.int64)
    miss = np.zeros(total, np.int8) if mmgmt else None
    out_at = 0
    non = 0
    for g in range(ng):
        ln, wd = int(lens[g]), int(widths[g])
        if wd:
            raw = _bits_to_ints(bits[pos_bits:], wd, ln)
            pos_bits += wd * ln
            if mmgmt:
                m1 = (1 << wd) - 1
                flag = np.where(raw == m1, 1, 0).astype(np.int8)
                if mmgmt == 2:
                    flag = np.where(raw == m1 - 1, 2, flag)
                keep = raw[flag == 0] + refs[g]
                x[non:non + len(keep)] = keep
                non += len(keep)
                miss[out_at:out_at + ln] = flag
            else:
                x[out_at:out_at + ln] = refs[g] + raw
        else:
            if mmgmt:
                m1 = (1 << nbits) - 1
                if refs[g] == m1:
                    miss[out_at:out_at + ln] = 1
                elif mmgmt == 2 and refs[g] == m1 - 1:
                    miss[out_at:out_at + ln] = 2
                else:
                    x[non:non + ln] = refs[g]
                    non += ln
            else:
                x[out_at:out_at + ln] = refs[g]
        out_at += ln
    if not mmgmt:
        x = x[:n]
        non = n
        miss_out = None
    else:
        miss_out = miss[:n]
        non = min(non, n)
    if template == 3 and order:
        m = non
        if order == 1 and m:
            x[0] = ival1
            if m > 1:
                x[1:m] += minsd
                x[:m] = np.cumsum(x[:m])
        elif order == 2 and m:
            y = x[:m].astype(np.int64)
            y[0] = ival1
            if m > 1:
                y[1] = ival2
            if m > 2:
                y[2:] += minsd
                # x[k] = y[k] + 2x[k-1] - x[k-2]: double prefix sum
                f = np.empty(m - 1, np.int64)
                f[0] = ival2 - ival1
                f[1:] = y[2:]
                f = np.cumsum(f)
                y[1:] = ival1 + np.cumsum(f)
            x[:m] = y
    return x[:non], miss_out, rmiss1, rmiss2


def parse_fields(buf: bytes):
    """One GRIB2 message -> [(values (Nj, Ni) float64, meta dict)] —
    one entry per repeated (4..7) field group."""
    if buf[:4] != b"GRIB" or buf[7] != 2:
        raise ValueError("not a GRIB2 message")
    discipline = buf[6]
    pos = 16
    sec = {}
    prev_bitmap = None
    fields = []
    while pos < len(buf):
        if buf[pos:pos + 4] == b"7777":
            break
        ln = _u(buf, pos, 4)
        num = buf[pos + 4]
        sec[num] = buf[pos:pos + ln]
        pos += ln
        if num != 7:
            continue
        # a complete field: decode with current sections 3/4/5/6
        s3 = sec[3]
        s5 = sec[5]
        s6 = sec.get(6)
        s7 = sec[7]
        grid_tmpl = _u(s3, 12, 2)
        ndata = _u(s5, 5, 4)
        drt = _u(s5, 9, 2)
        ni = _u(s3, 30, 4)
        nj = _u(s3, 34, 4)
        # scanning-mode octet position varies per grid template
        scan_idx = {0: 71, 40: 71, 10: 59, 20: 64, 30: 64}.get(grid_tmpl)
        scan = (s3[scan_idx] if scan_idx is not None
                and len(s3) > scan_idx else 0)
        meta = {"discipline": discipline, "grid_template": grid_tmpl,
                "drt": drt, "ni": ni, "nj": nj,
                "product_template": _u(sec[4], 7, 2),
                "param_category": sec[4][9] if len(sec[4]) > 9 else None,
                "param_number": sec[4][10] if len(sec[4]) > 10 else None}
        if grid_tmpl == 0:
            sub = _u(s3, 42, 4)
            basic = _u(s3, 38, 4)
            unit = (basic / sub if basic not in (0, 0xFFFFFFFF)
                    and sub not in (0, 0xFFFFFFFF) else 1e-6)
            lat1 = _s(s3, 46, 4) * unit
            lon1 = _s(s3, 50, 4) * unit
            lat2 = _s(s3, 55, 4) * unit
            di = _u(s3, 63, 4) * unit
            dj = _u(s3, 67, 4) * unit
            if lon1 > 180.0:
                lon1 -= 360.0
            meta["gt"] = (lon1 - di / 2.0, di, 0.0,
                          max(lat1, lat2) + dj / 2.0, 0.0, -dj)
        data = s7[5:]
        if drt in (0, 40, 41):                 # simple / JPEG2000 / PNG
            r = struct.unpack(">f", s5[11:15])[0]
            e = _s(s5, 15, 2)
            d = _s(s5, 17, 2)
            nbits = s5[19]
            nvals = ndata
            if nbits == 0:
                x = np.zeros(nvals, np.int64)
            elif drt == 41:
                from .png import decode_png
                img = decode_png(bytes(data))[0]
                x = np.asarray(img).ravel().astype(np.int64)[:nvals]
            elif drt == 40:
                # template 5.40: section 7 is a raw J2K codestream of
                # one unsigned component (reversible for compression
                # type 0 — the from-scratch T.800 decoder in raster/j2k)
                from ..raster.j2k import decode_j2k, extract_codestream
                img = decode_j2k(extract_codestream(bytes(data)))
                x = img[0].ravel().astype(np.int64)[:nvals]
            else:
                x = _unpack_simple(data, nvals, nbits)
            vals = (r + x.astype(np.float64) * 2.0 ** e) / 10.0 ** d
        elif drt in (2, 3):                    # complex packing
            r = struct.unpack(">f", s5[11:15])[0]
            e = _s(s5, 15, 2)
            d = _s(s5, 17, 2)
            x, miss, rm1, rm2 = _unpack_complex(data, ndata, s5, drt)
            dense = (r + x.astype(np.float64) * 2.0 ** e) / 10.0 ** d
            if miss is None:
                vals = dense
            else:
                vals = np.empty(ndata, np.float64)
                vals[miss == 0] = dense[:int((miss == 0).sum())]
                vals[miss == 1] = rm1
                if rm2 is not None:
                    vals[miss == 2] = rm2
                meta["nodata"] = float(rm1)
        elif drt == 4:                         # IEEE floating point
            prec = s5[11]
            dt = {1: ">f4", 2: ">f8"}.get(prec)
            if dt is None:
                raise ValueError(f"IEEE precision {prec} unsupported")
            vals = np.frombuffer(data, dt, count=ndata) \
                .astype(np.float64)
        else:
            raise ValueError(f"data representation template {drt} "
                             "unsupported (no CCSDS/AEC codec)")
        # bitmap expansion
        full = vals
        if s6 is not None:
            ind = s6[5]
            if ind == 0:
                bm = np.unpackbits(np.frombuffer(s6[6:], np.uint8))
                bm = bm[:ni * nj].astype(bool)
                prev_bitmap = bm
            elif ind == 254:
                bm = prev_bitmap
            elif ind == 255:
                bm = None
            else:
                raise ValueError(f"predefined bitmap {ind} unsupported")
            if bm is not None:
                full = np.full(ni * nj, NODATA, np.float64)
                full[bm] = vals[:int(bm.sum())]
                meta["nodata"] = NODATA
        # GRIB_NORMALIZE_UNITS=YES (the reference default,
        # gribdataset.cpp:117 + degrib ComputeUnit UC_K2F metric):
        # temperature parameters read as degrees Celsius
        if discipline == 0 and meta["param_category"] == 0:
            nodv = meta.get("nodata")
            if nodv is None:
                full = full - 273.15
            else:
                full = np.where(full == nodv, full, full - 273.15)
            meta["unit"] = "C"
        grid = full[:ni * nj].reshape(nj, ni)
        if scan & 0x40:                        # j scans south -> north
            grid = grid[::-1]
        if scan & 0x80:                        # i scans east -> west
            grid = grid[:, ::-1]
        if scan & 0x20:
            raise ValueError("boustrophedon scanning unsupported")
        fields.append((grid, meta))
    return fields


def read_grib2(spark: SparkSession, path: str, tile: int = 256):
    """-> (tile table, [meta per field]); band = field index + 1 across
    all messages in file order."""
    msgs = scan_messages(path)
    # driver meta pass: parse headers only (sections are tiny; values
    # decode lazily on executors)
    metas = []
    band_plan = []                       # (band, msg_off, msg_len, field_i)
    for off, ln in msgs:
        for i, (_g, m) in enumerate(parse_fields(vsi.pread(path, off, ln))):
            band_plan.append((len(metas) + 1, off, ln, i))
            metas.append(m)
    idx = spark.createDataFrame(
        pd.DataFrame(band_plan, columns=["band", "off", "len", "fi"]))
    idx = idx.repartition(min(len(band_plan), 32) or 1)

    def decode(s):
        grid, m = parse_fields(vsi.pread(path, s.off, s.len))[s.fi]
        return plane_tiles(grid, s.band, 0, 0, tile, "float64",
                           m.get("nodata"))

    return tiles_from_tasks(idx, decode), metas


# ---------------------------------------------------------------------------
# fixture writer (edition 2, grid template 3.0, simple packing 5.0)
# ---------------------------------------------------------------------------

def write_grib2(arrays, path: str, *, lat1: float = 60.0,
                lon1: float = 0.0, di: float = 0.5, dj: float = 0.5,
                discipline: int = 0, category: int = 2, number: int = 2,
                nbits: int = 12, d_scale: int = 2,
                bitmaps=None, drt: int = 0) -> None:
    """[(Nj, Ni) float arrays] -> one GRIB2 message each: section
    0/1/3/4/5/6/7/8 with lat/lon grid template 3.0, product template
    4.0, simple packing 5.0 (binary scale chosen to fit nbits), and an
    optional per-array bool bitmap (section 6 indicator 0). Scanning
    mode 0 (+i, -j from the north-west corner).  drt=40 packs the
    quantized integers as a lossless JPEG 2000 codestream instead
    (template 5.40 type-0, raster/j2k encode_j2k)."""
    out = bytearray()
    for ai, arr in enumerate(arrays):
        a = np.asarray(arr, np.float64)
        nj, ni = a.shape
        bm = None if bitmaps is None else bitmaps[ai]
        vals = a[bm] if bm is not None else a.ravel()
        scaled = vals * 10.0 ** d_scale
        ref = float(scaled.min())
        ref32 = struct.unpack(">f", struct.pack(">f", ref))[0]
        e = 0
        span = float(scaled.max()) - ref32
        while span / 2.0 ** e > (1 << nbits) - 1:
            e += 1
        x = np.clip(np.rint((scaled - ref32) / 2.0 ** e), 0,
                    (1 << nbits) - 1).astype(np.int64)

        s1 = bytearray(21)
        s1[0:4] = (21).to_bytes(4, "big")
        s1[4] = 1
        s1[5:7] = (7).to_bytes(2, "big")       # centre NCEP
        s1[12:14] = (2026).to_bytes(2, "big")
        s1[14:17] = bytes([1, 1, 0])
        s1[19] = 0
        s1[20] = 1

        def sm(v, n):                          # sign-magnitude encode
            iv = int(round(v))
            return ((1 << (8 * n - 1)) | -iv if iv < 0
                    else iv).to_bytes(n, "big")

        s3 = bytearray(72)
        s3[0:4] = (72).to_bytes(4, "big")
        s3[4] = 3
        s3[5] = 0
        s3[6:10] = (ni * nj).to_bytes(4, "big")
        s3[12:14] = (0).to_bytes(2, "big")     # template 3.0
        s3[14] = 6                             # earth: sphere 6371229 m
        s3[30:34] = ni.to_bytes(4, "big")
        s3[34:38] = nj.to_bytes(4, "big")
        s3[38:42] = (0).to_bytes(4, "big")
        s3[42:46] = (0xFFFFFFFF).to_bytes(4, "big")
        s3[46:50] = sm(lat1 * 1e6, 4)
        s3[50:54] = sm((lon1 % 360.0) * 1e6, 4)
        s3[54] = 0x30
        s3[55:59] = sm((lat1 - (nj - 1) * dj) * 1e6, 4)
        s3[59:63] = sm(((lon1 + (ni - 1) * di) % 360.0) * 1e6, 4)
        s3[63:67] = int(round(di * 1e6)).to_bytes(4, "big")
        s3[67:71] = int(round(dj * 1e6)).to_bytes(4, "big")
        s3[71] = 0                             # scan +i, -j

        s4 = bytearray(34)
        s4[0:4] = (34).to_bytes(4, "big")
        s4[4] = 4
        s4[7:9] = (0).to_bytes(2, "big")       # template 4.0
        s4[9] = category
        s4[10] = number
        s4[11] = 2                             # generating process
        s4[17] = 1                             # hours
        s4[22] = 1                             # surface
        s4[23] = 0xFF

        s5 = bytearray(23 if drt == 40 else 21)
        s5[0:4] = len(s5).to_bytes(4, "big")
        s5[4] = 5
        s5[5:9] = len(vals).to_bytes(4, "big")
        s5[9:11] = drt.to_bytes(2, "big")      # template 5.0 / 5.40
        s5[11:15] = struct.pack(">f", ref32)
        s5[15:17] = sm(e, 2)
        s5[17:19] = sm(d_scale, 2)
        s5[19] = nbits
        s5[20] = 0
        if drt == 40:
            s5[21] = 0                         # lossless compression
            s5[22] = 255                       # target ratio n/a

        if bm is None:
            s6 = bytearray(6)
            s6[0:4] = (6).to_bytes(4, "big")
            s6[4] = 6
            s6[5] = 255
        else:
            packed_bm = np.packbits(bm.ravel().astype(np.uint8))
            s6 = bytearray(6) + packed_bm.tobytes()
            s6[0:4] = len(s6).to_bytes(4, "big")
            s6[4] = 6
            s6[5] = 0

        if drt == 40:
            if bm is not None:
                raise ValueError("drt=40 with bitmap not supported")
            from ..raster.j2k import encode_j2k
            data = encode_j2k(x.reshape(nj, ni), depth=max(nbits, 1),
                              nl=5)
        else:
            bits = ((x.reshape(-1, 1)
                     >> np.arange(nbits - 1, -1, -1)) & 1).astype(np.uint8)
            data = np.packbits(bits.ravel()).tobytes()
        s7 = bytearray(5) + data
        s7[0:4] = len(s7).to_bytes(4, "big")
        s7[4] = 7

        body = bytes(s1) + bytes(s3) + bytes(s4) + bytes(s5) \
            + bytes(s6) + bytes(s7) + b"7777"
        total = 16 + len(body)
        out += b"GRIB" + b"\x00\x00" + bytes([discipline, 2]) \
            + total.to_bytes(8, "big") + body
    with open(path, "wb") as f:
        f.write(bytes(out))
