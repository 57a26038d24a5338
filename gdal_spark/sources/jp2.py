"""JPEG 2000 raster source (.jp2 / .j2k) over the from-scratch T.800
codec in raster/j2k.py.

Reference behavior: frmts/openjpeg/jp2opjdataset (JP2 box walk, GeoJP2
georeferencing from the degenerate GeoTIFF in the MSIG/GeoTIFF uuid
box) — decode semantics pinned against the reference autotest golden
checksums in tests/test_j2k.py.

Spark-first layout: the driver preads only the box headers + the J2K
main header and the SOT chain (12 bytes per tile-part hop through the
core.vsi seam); tile-parts fan out to executors BY BYTE RANGE — each
task preads its tile's codestream slice and runs tier-1/tier-2/IDWT
locally, so a tiled JP2 decodes with per-tile parallelism and no
whole-file reads anywhere.  Single-tile files degrade to one task (the
EBCOT stream is sequentially dependent by design).
"""

from __future__ import annotations

import os
import struct
import tempfile

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..core import vsi
from ..raster import j2k
from ..raster.tiles import plane_tiles, tiles_from_tasks

_GEOTIFF_UUID = bytes([0xB1, 0x4B, 0xF8, 0xBD, 0x08, 0x3D, 0x4B, 0x43,
                       0xA5, 0xAE, 0x8C, 0xD7, 0xD5, 0xA6, 0xCE, 0x03])


def _find_codestream(path: str):
    """Walk JP2 boxes with bounded preads -> (offset, length) of the
    jp2c payload, plus the GeoTIFF uuid payload bytes if present."""
    head = vsi.pread(path, 0, 2)
    if head == b"\xff\x4f":
        return 0, vsi.fsize(path), None
    size = vsi.fsize(path)
    i = 0
    geo = None
    cs = None
    while i + 8 <= size:
        hdr = vsi.pread(path, i, 16)
        ln = struct.unpack_from(">I", hdr, 0)[0]
        typ = hdr[4:8]
        body_off = i + 8
        if ln == 1:
            ln = struct.unpack_from(">Q", hdr, 8)[0]
            body_off = i + 16
        end = i + ln if ln else size
        if typ == b"jp2c":
            cs = (body_off, end - body_off)
        elif typ == b"uuid" and ln < 1 << 20:
            body = vsi.pread(path, body_off, end - body_off)
            if body[:16] == _GEOTIFF_UUID:
                geo = body[16:]
        if ln == 0:
            break
        i = end
    if cs is None:
        raise ValueError("no jp2c box")
    return cs[0], cs[1], geo


def _scan_main_header(path: str, cs_off: int):
    """Parse SIZ/COD/QCD and the SOT chain with bounded preads ->
    (siz, cod, qcd, [(tidx, data_off, data_len)])."""
    # main header markers until first SOT
    buf = vsi.pread(path, cs_off, 64 * 1024)
    if buf[:2] != b"\xff\x4f":
        raise ValueError("missing SOC")
    i = 2
    siz = cod = qcd = None
    while True:
        while i + 4 > len(buf):
            buf += vsi.pread(path, cs_off + len(buf), 64 * 1024)
        m = buf[i + 1]
        if m == 0x90:
            break
        ln = struct.unpack_from(">H", buf, i + 2)[0]
        while i + 2 + ln > len(buf):
            buf += vsi.pread(path, cs_off + len(buf), 64 * 1024)
        body = buf[i + 4:i + 2 + ln]
        if m == 0x51:
            siz = j2k._parse_siz(body)
        elif m == 0x52:
            cod = j2k._parse_cod(body)
        elif m == 0x5C:
            qcd = j2k._parse_qcd(body, cod["nl"] if cod else 0)
        i += 2 + ln
    if siz is None or cod is None or qcd is None:
        raise ValueError("missing SIZ/COD/QCD")
    # SOT chain: 12-byte hops
    parts = []
    pos = cs_off + i
    fsz = vsi.fsize(path)
    while pos < fsz:
        hdr = vsi.pread(path, pos, 12)
        if hdr[:2] == b"\xff\xd9" or len(hdr) < 12:
            break
        if hdr[:2] != b"\xff\x90":
            raise ValueError(f"expected SOT at {pos}")
        isot, psot = struct.unpack_from(">HI", hdr, 4)
        if psot == 0:
            psot = fsz - pos - 2
        parts.append((isot, pos, psot))
        pos += psot
    return siz, cod, qcd, parts


def read_jp2(spark: SparkSession, path: str, tile: int = 256):
    """.jp2/.j2k -> (tile table, meta).  Tile-parts decode executor-side
    by byte range.  Engine tiles are anchored per J2K tile: exact when
    the codestream tile grid aligns to `tile` (the common 512/1024/2048
    tilings) or when a single tile intersects the image area."""
    cs_off, cs_len, geo = _find_codestream(path)
    siz, cod, qcd, parts = _scan_main_header(path, cs_off)
    meta = {"width": siz["xsiz"] - siz["xosiz"],
            "height": siz["ysiz"] - siz["yosiz"],
            "bands": siz["csiz"],
            "depth": siz["comps"][0]["depth"]}
    if geo:
        try:
            from .geotiff import read_ifd
            tmp = os.path.join(
                tempfile.gettempdir(),
                f"gdal_spark_geojp2_{os.getpid()}_{abs(hash(path))}.tif")
            with open(tmp, "wb") as f:
                f.write(geo)
            ifd = read_ifd(tmp)
            if ifd.get("geotransform"):
                meta["gt"] = ifd["geotransform"]
            os.unlink(tmp)
        except Exception:
            pass
    ntx = -(-(siz["xsiz"] - siz["xtosiz"]) // siz["xtsiz"])
    # group tile-parts per tile index
    by_tile: dict[int, list] = {}
    for isot, off, ln in parts:
        by_tile.setdefault(isot, []).append((off, ln))
    # engine tiles anchor per J2K tile — exact only when the codestream
    # tile grid aligns to `tile` (512/1024/2048 tilings) or there is a
    # single tile.  Misaligned multi-tile grids (e.g. 16-px tiles)
    # decode the whole codestream in ONE executor task instead.
    aligned = (len(by_tile) <= 1
               or (siz["xtsiz"] % tile == 0 and siz["ytsiz"] % tile == 0
                   and (siz["xtosiz"] - siz["xosiz"]) % tile == 0
                   and (siz["ytosiz"] - siz["yosiz"]) % tile == 0))
    dt = ("i4" if siz["comps"][0]["signed"]
          else ("u2" if meta["depth"] > 8 else "u1"))
    if not aligned:
        def decode_whole(s):
            arr = j2k.decode_j2k(vsi.pread(path, s.off, s.size))
            for c in range(arr.shape[0]):
                yield from plane_tiles(arr[c], c + 1, 0, 0, tile, dt)

        return tiles_from_tasks(spark.createDataFrame(
            [(cs_off, cs_len)], "off long, size long"), decode_whole), meta
    rows = [(tidx, [list(t) for t in spans])
            for tidx, spans in sorted(by_tile.items())]
    pdf = spark.createDataFrame(
        rows, "tidx int, spans array<array<bigint>>") \
        .repartition(min(len(rows), 32))
    mct = cod["mct"]
    ncomp = siz["csiz"]
    irreversible = cod["transform"] == 0

    def decode(s):
        tdata = b""
        for off, ln in s.spans:
            raw = vsi.pread(path, int(off), int(ln))
            # strip SOT..SOD tile header
            j = 0
            while raw[j:j + 2] != b"\xff\x93":
                lh = struct.unpack_from(">H", raw, j + 2)[0]
                j += 2 + lh
            tdata += raw[j + 2:]
        tx, ty = s.tidx % ntx, s.tidx // ntx
        tx0 = max(siz["xtosiz"] + tx * siz["xtsiz"], siz["xosiz"])
        ty0 = max(siz["ytosiz"] + ty * siz["ytsiz"], siz["yosiz"])
        tx1 = min(siz["xtosiz"] + (tx + 1) * siz["xtsiz"], siz["xsiz"])
        ty1 = min(siz["ytosiz"] + (ty + 1) * siz["ytsiz"], siz["ysiz"])
        comps = j2k._decode_tile(tdata, siz, cod, qcd, tx0, ty0, tx1, ty1)
        # irreversible: stay float through the ICT, round once (mirrors
        # decode_j2k's lossy tail)
        comps = [c.astype(np.float64 if irreversible else np.int64)
                 for c in comps]
        if mct == 1 and ncomp >= 3:
            j2k.inverse_mct(comps, reversible=not irreversible)
        if irreversible:
            comps = [np.rint(c).astype(np.int64) for c in comps]
        for c in range(ncomp):
            depth = siz["comps"][c]["depth"]
            if not siz["comps"][c]["signed"]:
                comps[c] += 1 << (depth - 1)
                np.clip(comps[c], 0, (1 << depth) - 1, out=comps[c])
        # engine tiles relative to the image origin
        ox = tx0 - siz["xosiz"]
        oy = ty0 - siz["yosiz"]
        for c in range(ncomp):
            yield from plane_tiles(comps[c], c + 1, ox // tile, oy // tile,
                                   tile, dt)

    return tiles_from_tasks(pdf, decode), meta


def write_jp2(arr: np.ndarray, path: str, depth: int = 8,
              signed: bool = False, nl: int = 5, gt=None) -> None:
    """(h, w) int array -> lossless single-tile .jp2 (signature, ftyp,
    jp2h with ihdr/colr, optional GeoJP2 uuid, jp2c)."""
    cs = j2k.encode_j2k(arr, depth=depth, nl=nl, signed=signed)
    h, w = arr.shape

    def box(typ: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + typ + body

    out = bytearray()
    out += box(b"jP  ", b"\r\n\x87\n")
    out += box(b"ftyp", b"jp2 " + b"\x00" * 4 + b"jp2 ")
    ihdr = struct.pack(">IIHBBBB", h, w, 1,
                       (0x80 if signed else 0) | (depth - 1), 7, 0, 0)
    colr = b"\x01\x00\x00" + struct.pack(">I", 17)   # greyscale
    out += box(b"jp2h", box(b"ihdr", ihdr) + box(b"colr", colr))
    if gt is not None:
        # GeoJP2: a degenerate 1x1 GeoTIFF carrying only the geo tags
        from .geotiff import write_gtiff
        tmp = os.path.join(
            tempfile.gettempdir(),
            f"gdal_spark_geojp2w_{os.getpid()}_{abs(hash(path))}.tif")
        write_gtiff(np.zeros((1, 1), np.uint8), tmp, geotransform=gt)
        geo = vsi.read_all(tmp)
        os.unlink(tmp)
        out += box(b"uuid", _GEOTIFF_UUID + geo)
    out += box(b"jp2c", cs)
    with open(path, "wb") as f:
        f.write(bytes(out))
