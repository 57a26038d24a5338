"""Erdas Imagine HFA (.img) source (frmts/hfa/).

HFA is a little-endian node-tree container: a 20-byte header tag points
at an Ehfa_File record (root entry + data dictionary offset); entries
are 100-byte records (6 x u32 links + name[64] + type[32]) whose node
data is laid out by the file's OWN embedded data dictionary — a text
grammar of "{count:[p|*]<type>fieldname,...}TypeName," definitions
(hfadictionary.cpp / hfafield.cpp). This module implements the
dictionary engine (all atomic item codes, enum tables, nested/inline
objects, pointer headers, BASEDATA), the Eimg_Layer block model
(RasterDMS / Edms_State virtual-block tables and ExternalRasterDMS
spill .ige files), and the ESRI GRID block compression — reduced-
precision and run-length forms exactly as HFABand::UncompressBlock
(hfaband.cpp:556) decodes them, including the int-bits reinterpretation
for f32 blocks.

Distribution: the node tree and block tables are header-sized driver
work and the walk is pread-BOUNDED — it goes through
core.vsi.PagedReader, touching only the header/entry/dictionary pages
(a multi-GB .img opens with ~the node tree resident; test_hfa pins
bytes_fetched on a 4 GB file). Pixel blocks decode in parallel — each
Spark task takes a batch of (band, block) entries with absolute
offsets and preads only its blocks via the same vsi seam, the same
access pattern the GeoTIFF/NITF readers use. A 100 TB corpus of .img
scenes parallelizes file x block.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks

# pixelType enum order (Eimg_Layer e13) -> (numpy dtype or None, bits)
_PIX = [("u1", 1), ("u2", 2), ("u4", 4), (np.uint8, 8), (np.int8, 8),
        (np.uint16, 16), (np.int16, 16), (np.uint32, 32), (np.int32, 32),
        (np.float32, 32), (np.float64, 64), (np.complex64, 64),
        (np.complex128, 128)]
_EPT_BITS = [1, 2, 4, 8, 8, 16, 16, 32, 32, 32, 64, 64, 128]

_ITEM_SIZE = {"1": 1, "2": 1, "4": 1, "c": 1, "C": 1, "e": 2, "s": 2,
              "S": 2, "t": 4, "l": 4, "L": 4, "f": 4, "d": 8, "m": 8,
              "M": 16}
_ITEM_FMT = {"c": "B", "C": "B", "e": "<H", "s": "<h", "S": "<H",
             "t": "<I", "l": "<i", "L": "<I", "f": "<f", "d": "<d"}


class _Field:
    __slots__ = ("count", "pointer", "itype", "objname", "enums", "name")


def _parse_fields(text: str, pos: int):
    """Parse '{...}' field list starting at the '{'; -> (fields, pos
    after '}')."""
    assert text[pos] == "{"
    pos += 1
    fields = []
    while text[pos] != "}":
        f = _Field()
        j = text.index(":", pos)
        f.count = int(text[pos:j])
        pos = j + 1
        f.pointer = ""
        if text[pos] in "p*":
            f.pointer = text[pos]
            pos += 1
        f.itype = text[pos]
        pos += 1
        f.objname = None
        f.enums = None
        if f.itype == "o":
            j = text.index(",", pos)
            f.objname = text[pos:j]
            pos = j + 1
        elif f.itype == "x" and text[pos] == "{":
            depth = 1
            pos += 1
            while depth:
                if text[pos] == "{":
                    depth += 1
                elif text[pos] == "}":
                    depth -= 1
                pos += 1
            f.itype = "o"
            j = text.index(",", pos)
            f.objname = text[pos:j]
            pos = j + 1
        elif f.itype == "e":
            j = text.index(":", pos)
            n_enum = int(text[pos:j])
            pos = j + 1
            f.enums = []
            for _ in range(n_enum):
                j = text.index(",", pos)
                f.enums.append(text[pos:j])
                pos = j + 1
        j = text.index(",", pos)
        f.name = text[pos:j]
        pos = j + 1
        fields.append(f)
    return fields, pos + 1


def parse_dictionary(text: str) -> dict:
    """HFA data dictionary text -> {type name: [fields]}."""
    types = {}
    pos = 0
    while pos < len(text) and text[pos] == "{":
        fields, pos = _parse_fields(text, pos)
        j = text.index(",", pos)
        types[text[pos:j]] = fields
        pos = j + 1
    return types


def _decode_inst(types: dict, fields, buf: bytes, pos: int):
    """Instance data -> (dict, next pos) following HFAField semantics:
    pointer fields carry a u32 count + u32 file-pointer header with the
    items inline after it; BASEDATA carries rows/cols/type header."""
    out = {}
    for f in fields:
        n = f.count
        if f.pointer:
            if pos + 8 > len(buf):
                break
            n = struct.unpack_from("<I", buf, pos)[0]
            pos += 8
        if f.itype == "b":                       # BASEDATA
            if n == 0:
                out[f.name] = None
                continue
            rows, cols = struct.unpack_from("<ii", buf, pos)
            bt = struct.unpack_from("<h", buf, pos + 8)[0]
            pos += 12
            nbytes = (_EPT_BITS[bt] + 7) // 8 * rows * cols
            out[f.name] = buf[pos:pos + nbytes]
            pos += nbytes
        elif f.itype == "o":
            sub = types.get(f.objname, [])
            vals = []
            for _ in range(n):
                v, pos = _decode_inst(types, sub, buf, pos)
                vals.append(v)
            out[f.name] = vals[0] if f.count == 1 and not f.pointer \
                and len(vals) == 1 else vals
        elif f.itype in ("c", "C"):
            raw = buf[pos:pos + n]
            pos += n
            out[f.name] = raw.split(b"\x00")[0].decode("latin-1")
        elif f.itype in ("1", "2", "4"):
            bits = int(f.itype)
            pos += (n * bits + 7) // 8
            out[f.name] = None
        else:
            sz = _ITEM_SIZE[f.itype]
            fmt = _ITEM_FMT.get(f.itype)
            vals = []
            for _ in range(n):
                if pos + sz > len(buf):
                    vals.append(None)
                    pos += sz
                    continue
                v = struct.unpack_from(fmt, buf, pos)[0]
                pos += sz
                if f.itype == "e" and f.enums and v < len(f.enums):
                    v = f.enums[v]
                vals.append(v)
            out[f.name] = vals[0] if len(vals) == 1 else vals
    return out, pos


def _mif_string(v) -> str | None:
    """Emif_String instance(s) -> python str."""
    if isinstance(v, list):
        v = v[0] if v else None
    if isinstance(v, dict):
        return v.get("string")
    return v


class HFAFile:
    """Parsed node tree + per-layer block tables."""

    def __init__(self, path: str):
        self.path = path
        buf = vsi.PagedReader(path)
        if buf[0:15] != b"EHFA_HEADER_TAG":
            raise ValueError("not an Erdas Imagine (HFA) file")
        hdr_pos = buf.unpack("<I", 16)[0]
        (self.version, _free, root_ptr, _ehl,
         dict_ptr) = buf.unpack("<iIIhI", hdr_pos)
        dict_end = buf.find(b".", dict_ptr)
        if dict_end < 0:
            dict_end = len(buf)
        self.types = parse_dictionary(
            buf[dict_ptr:dict_end].decode("latin-1"))
        self.entries = []                  # (name, type, data dict, depth,
        self._children = {}                # parent idx -> [idx]
        self.buf = buf                     # PagedReader (bytes_fetched)
        self._walk(buf, root_ptr, None)
        self.layers = [e for e in self.entries
                       if e["type"] == "Eimg_Layer"]

    def _walk(self, buf, pos: int, parent):
        while pos:
            nxt, _prev, _par, child, data, dsize = \
                buf.unpack("<6I", pos)
            name = buf[pos + 24:pos + 88].split(b"\x00")[0] \
                .decode("latin-1")
            typ = buf[pos + 88:pos + 120].split(b"\x00")[0] \
                .decode("latin-1")
            fields = self.types.get(typ)
            inst = {}
            if fields and data and dsize:
                # node data is dsize bytes (HFAEntry::LoadData reads
                # exactly nDataSize) — pull just that window
                try:
                    inst, _ = _decode_inst(self.types, fields,
                                           buf[data:data + dsize], 0)
                except (struct.error, IndexError, KeyError):
                    inst = {}
            idx = len(self.entries)
            self.entries.append({"name": name, "type": typ,
                                 "data": inst, "parent": parent})
            if parent is not None:
                self._children.setdefault(parent, []).append(idx)
            if child:
                self._walk(buf, child, idx)
            pos = nxt

    def children_of(self, idx: int):
        return [self.entries[i] for i in self._children.get(idx, [])]

    def named_child(self, idx: int, name: str):
        for e in self.children_of(idx):
            if e["name"] == name:
                return e
        return None

    def typed_child(self, idx: int, typ: str):
        for e in self.children_of(idx):
            if e["type"] == typ:
                return e
        return None

    def layer_info(self, layer) -> dict:
        """One Eimg_Layer -> geometry + absolute block table."""
        idx = self.entries.index(layer)
        d = layer["data"]
        w, h = int(d["width"]), int(d["height"])
        bw, bh = int(d["blockWidth"]), int(d["blockHeight"])
        pix = _PIX.index if False else None
        del pix
        pnames = [p[0] if isinstance(p[0], str) else np.dtype(p[0]).name
                  for p in _PIX]
        ptype = d["pixelType"]
        pt = {"u1": 0, "u2": 1, "u4": 2, "u8": 3, "s8": 4, "u16": 5,
              "s16": 6, "u32": 7, "s32": 8, "f32": 9, "f64": 10,
              "c64": 11, "c128": 12}[ptype]
        del pnames
        nbx = -(-w // bw)
        nby = -(-h // bh)
        info = {"width": w, "height": h, "bw": bw, "bh": bh, "pt": pt,
                "nbx": nbx, "nby": nby, "file": self.path}
        dms = self.typed_child(idx, "Edms_State") \
            or self.named_child(idx, "RasterDMS")
        ext = self.named_child(idx, "ExternalRasterDMS")
        if dms is not None and dms["data"].get("blockinfo") is not None:
            blocks = []
            for b in dms["data"]["blockinfo"]:
                blocks.append((int(b["offset"]), int(b["size"]),
                               b["logvalid"] in ("true", 1),
                               b["compressionType"]
                               in ("ESRI GRID compression", 1)))
            info["blocks"] = blocks
        elif ext is not None:
            e = ext["data"]
            fn = _mif_string(e.get("fileName"))
            spill = os.path.join(os.path.dirname(self.path) or ".", fn)

            def big(v):
                return int(v[0]) | (int(v[1]) << 32)

            start = big(e["layerStackDataOffset"])
            count = int(e["layerStackCount"])
            index = int(e["layerStackIndex"])
            vstart = big(e["layerStackValidFlagsOffset"])
            bsize = (bw * bh * _EPT_BITS[pt] + 7) // 8
            bm = vsi.pread(spill, vstart, (nbx + 7) // 8 * nby + 20)
            blocks = []
            for i in range(nbx * nby):
                col, row = i % nbx, i // nbx
                bit = row * ((nbx + 7) // 8) * 8 + col + 160
                valid = bool((bm[bit >> 3] >> (bit & 7)) & 1)
                blocks.append((start + bsize * (i * count + index),
                               bsize, valid, False))
            info["blocks"] = blocks
            info["file"] = spill
        else:
            raise ValueError("layer has no RasterDMS/ExternalRasterDMS")
        return info

    def geotransform(self):
        """First Eprj_MapInfo in the tree -> GDAL geotransform."""
        for e in self.entries:
            if e["type"] == "Eprj_MapInfo" and e["data"]:
                d = e["data"]
                ul = d["upperLeftCenter"]
                ps = d["pixelSize"]
                if isinstance(ul, list):
                    ul = ul[0]
                if isinstance(ps, list):
                    ps = ps[0]
                return (ul["x"] - ps["width"] / 2.0, ps["width"], 0.0,
                        ul["y"] + ps["height"] / 2.0, 0.0,
                        -ps["height"])
        return None


def _read_bits_be(vals: bytes, nbits: int, count: int) -> np.ndarray:
    """Value stream of the compressed form: 1/2/4-bit LSB-first within
    each byte; 8/16/32-bit big-endian (hfaband.cpp:812-852)."""
    if nbits == 0:
        return np.zeros(count, np.int64)
    if nbits == 8:
        return np.frombuffer(vals, np.uint8, count=count).astype(np.int64)
    if nbits == 16:
        return np.frombuffer(vals, ">u2", count=count).astype(np.int64)
    if nbits == 32:
        return np.frombuffer(vals, ">i4", count=count).astype(np.int64)
    b = np.frombuffer(vals, np.uint8,
                      count=(count * nbits + 7) // 8)
    per = 8 // nbits
    shifts = (np.arange(per) * nbits).astype(np.uint8)
    expanded = (b[:, None] >> shifts[None, :]) & ((1 << nbits) - 1)
    return expanded.ravel()[:count].astype(np.int64)


def uncompress_block(cdata: bytes, n_pixels: int, pt: int) -> np.ndarray:
    """ESRI GRID compression -> int64 (or float) pixel vector — exact
    HFABand::UncompressBlock semantics."""
    dmin = struct.unpack_from("<I", cdata, 0)[0]
    nruns = struct.unpack_from("<i", cdata, 4)[0]
    doff = struct.unpack_from("<i", cdata, 8)[0]
    nbits = cdata[12]
    if nruns == -1:              # reduced precision, no RLE
        raw = _read_bits_be(cdata[13:], nbits, n_pixels)
        out = raw + np.int64(np.int32(np.uint32(dmin)))
    else:
        counts = np.empty(nruns, np.int64)
        p = 13
        for i in range(nruns):
            c0 = cdata[p]
            nb = (c0 >> 6) + 1
            v = c0 & 0x3F
            for k in range(1, nb):
                v = v * 256 + cdata[p + k]
            counts[i] = v
            p += nb
        vals = _read_bits_be(cdata[doff:], nbits, nruns)
        vals = vals + np.int64(np.int32(np.uint32(dmin)))
        total = int(counts.sum())
        out = np.repeat(vals, counts)
        if total < n_pixels:
            out = np.concatenate(
                [out, np.zeros(n_pixels - total, np.int64)])
        out = out[:n_pixels]
    if pt == 9:                  # f32: reinterpret the int bits
        return out.astype(np.int32).view(np.float32).astype(np.float64)
    if pt == 10:
        return out.astype(np.int64).view(np.float64)
    return out


def _decode_block(raw: bytes, info: dict, compressed: bool,
                  valid: bool) -> np.ndarray:
    bw, bh, pt = info["bw"], info["bh"], info["pt"]
    n = bw * bh
    if not valid:
        return np.zeros((bh, bw), np.float64)
    if compressed:
        flat = uncompress_block(raw, n, pt).astype(np.float64)
        return flat.reshape(bh, bw)
    dt, bits = _PIX[pt]
    if isinstance(dt, str):       # sub-byte: LSB-first within each byte
        b = np.frombuffer(raw, np.uint8, count=(n * bits + 7) // 8)
        per = 8 // bits
        shifts = (np.arange(per) * bits).astype(np.uint8)
        flat = ((b[:, None] >> shifts[None, :]) & ((1 << bits) - 1)) \
            .ravel()[:n]
        return flat.astype(np.float64).reshape(bh, bw)
    arr = np.frombuffer(raw, np.dtype(dt).newbyteorder("<"), count=n)
    if pt in (11, 12):
        arr = np.abs(arr)
    return arr.astype(np.float64).reshape(bh, bw)


def read_hfa(spark: SparkSession, path: str, tile: int = 256):
    """.img -> (engine tile table, HFAFile). Tile size = the file's own
    block size (HFA blocks are 64x64 typically); band = layer order."""
    hfa = HFAFile(path)
    rows = []
    for bi, layer in enumerate(hfa.layers):
        info = hfa.layer_info(layer)
        for i, (off, size, valid, comp) in enumerate(info["blocks"]):
            rows.append((bi + 1, info["file"], off, size, int(valid),
                         int(comp), i % info["nbx"], i // info["nbx"],
                         info["bw"], info["bh"], info["pt"],
                         info["width"], info["height"]))
    idx = spark.createDataFrame(pd.DataFrame(
        rows, columns=["band", "file", "off", "size", "valid", "comp",
                       "bx", "by", "bw", "bh", "pt", "w", "h"]))
    idx = idx.repartition(min(len(rows), 32) or 1)

    def decode(r):
        # clip partial edge blocks to the raster extent
        hh = min(r.bh, r.h - r.by * r.bh)
        ww = min(r.bw, r.w - r.bx * r.bw)
        if hh <= 0 or ww <= 0:
            return []
        arr = _decode_block(vsi.pread(r.file, r.off, r.size),
                            {"bw": r.bw, "bh": r.bh, "pt": r.pt},
                            bool(r.comp), bool(r.valid))
        return plane_tiles(arr[:hh, :ww], r.band, r.bx, r.by, r.bw,
                           "float64")

    return tiles_from_tasks(idx, decode), hfa


# ---------------------------------------------------------------------------
# writer (uncompressed single-layer HFA, minimal embedded dictionary)
# ---------------------------------------------------------------------------

_W_DICT = ("{1:lversion,1:LfreeList,1:LrootEntryPtr,1:sentryHeaderLength,"
           "1:LdictionaryPtr,}Ehfa_File,"
           "{1:lwidth,1:lheight,1:e3:thematic,athematic,fft of real-valued"
           " data,layerType,1:e13:u1,u2,u4,u8,s8,u16,s16,u32,s32,f32,f64,"
           "c64,c128,pixelType,1:lblockWidth,1:lblockHeight,}Eimg_Layer,"
           "{1:e2:raster,vector,type,1:LdictionaryPtr,}Ehfa_Layer,"
           "{1:sfileCode,1:Loffset,1:lsize,1:e2:false,true,logvalid,"
           "1:e2:no compression,ESRI GRID compression,compressionType,}"
           "Edms_VirtualBlockInfo,"
           "{1:lnumvirtualblocks,1:lnumobjectsperblock,1:lnextobjectnum,"
           "1:e2:no compression,RLC compression,compressionType,"
           "0:poEdms_VirtualBlockInfo,blockinfo,1:tmodTime,}Edms_State,"
           "{1:dx,1:dy,}Eprj_Coordinate,{1:dwidth,1:dheight,}Eprj_Size,"
           "{0:pcproName,1:*oEprj_Coordinate,upperLeftCenter,"
           "1:*oEprj_Coordinate,lowerRightCenter,1:*oEprj_Size,pixelSize,"
           "0:pcunits,}Eprj_MapInfo,.")

_W_PIX_NP = {3: np.uint8, 8: np.int32, 9: np.float32, 10: np.float64}


def _w_entry(next_, parent, child, data, dsize, name, typ):
    rec = struct.pack("<6I", next_, 0, parent, child, data, dsize)
    rec += name.encode("ascii").ljust(64, b"\x00")
    rec += typ.encode("ascii").ljust(32, b"\x00")
    return rec.ljust(128, b"\x00")


def write_hfa(tiles: DataFrame, path: str, width_px: int, height_px: int,
              tile: int = 64, pixel_type: int = 8,
              gt: tuple | None = None) -> None:
    """Tile table -> single-layer uncompressed .img, written in
    parallel: the node tree / dictionary / block table are header-sized
    driver work; pixel blocks pwrite per task at closed-form offsets
    (engine tile == HFA block). Readable by the reference driver (same
    node layout HFACreateLL emits) and by read_hfa."""
    import pandas as pd
    from pyspark.sql import types as T

    np_dt = _W_PIX_NP[pixel_type]
    bsize = tile * tile * np.dtype(np_dt).itemsize
    nbx, nby = -(-width_px // tile), -(-height_px // tile)
    nblocks = nbx * nby

    e_root, e_layer, e_hlayer, e_dms, e_map = 64, 192, 320, 448, 576
    d_layer = 704
    d_hlayer = d_layer + 20
    d_map = d_hlayer + 6
    units = b"meters"
    pro = b"gdal_spark"
    map_data = (struct.pack("<II", len(pro), 0) + pro
                + struct.pack("<II", 1, 0))
    if gt is None:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    ulx = gt[0] + gt[1] / 2.0
    uly = gt[3] + gt[5] / 2.0
    lrx = gt[0] + gt[1] * (width_px - 0.5)
    lry = gt[3] + gt[5] * (height_px - 0.5)
    map_data += struct.pack("<dd", ulx, uly)
    map_data += struct.pack("<II", 1, 0) + struct.pack("<dd", lrx, lry)
    map_data += struct.pack("<II", 1, 0) + struct.pack(
        "<dd", abs(gt[1]), abs(gt[5]))
    map_data += struct.pack("<II", len(units), 0) + units
    d_dms = d_map + len(map_data)
    dms_fixed = struct.pack("<iii", nblocks, tile * tile, nblocks) \
        + struct.pack("<H", 0)
    blocks_at = (d_dms + len(dms_fixed) + 8 + 14 * nblocks + 4 + 63) \
        // 64 * 64
    binfo = b"".join(
        struct.pack("<hIihH", 0, blocks_at + i * bsize, bsize, 1, 0)
        for i in range(nblocks))
    dms_data = dms_fixed + struct.pack("<II", nblocks, 0) + binfo \
        + struct.pack("<I", 0)
    dict_at = blocks_at + nblocks * bsize

    hdr = bytearray(blocks_at)
    hdr[0:16] = b"EHFA_HEADER_TAG\x00"
    hdr[16:20] = struct.pack("<I", 20)
    hdr[20:38] = struct.pack("<iIIhI", 1, 0, e_root, 128, dict_at)
    hdr[e_root:e_root + 128] = _w_entry(0, 0, e_layer, 0, 0, "root",
                                        "root")
    hdr[e_layer:e_layer + 128] = _w_entry(
        e_map, e_root, e_hlayer, d_layer, 20, "Layer_1", "Eimg_Layer")
    hdr[e_hlayer:e_hlayer + 128] = _w_entry(
        e_dms, e_layer, 0, d_hlayer, 6, "Ehfa_Layer", "Ehfa_Layer")
    hdr[e_dms:e_dms + 128] = _w_entry(
        0, e_layer, 0, d_dms, len(dms_data), "RasterDMS", "Edms_State")
    hdr[e_map:e_map + 128] = _w_entry(
        0, e_root, 0, d_map, len(map_data), "Map_Info", "Eprj_MapInfo")
    hdr[d_layer:d_layer + 20] = struct.pack(
        "<iiHHii", width_px, height_px, 1, pixel_type, tile, tile)
    hdr[d_hlayer:d_hlayer + 6] = struct.pack("<HI", 0, 0)
    hdr[d_map:d_map + len(map_data)] = map_data
    hdr[d_dms:d_dms + len(dms_data)] = dms_data
    with open(path, "wb") as f:
        f.write(bytes(hdr))
        f.truncate(dict_at)
        f.seek(dict_at)
        f.write(_W_DICT.encode("ascii"))

    from ..raster.tiles import decode_px
    out_schema = T.StructType([T.StructField("bi", T.LongType()),
                               T.StructField("n", T.LongType())])

    def emit(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        bi = ty * nbx + tx
        blk = np.zeros((tile, tile), np.float64)
        for r in pdf.itertuples(index=False):
            blk = decode_px(r.px, r.dtype, tile).astype(np.float64)
        raw = blk.astype(np_dt).tobytes()
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, raw, blocks_at + bi * bsize)
        finally:
            os.close(fd)
        return pd.DataFrame({"bi": [bi], "n": [1]})

    tiles.groupBy("tile_x", "tile_y").applyInPandas(
        emit, out_schema).collect()


def read_rat(path: str, layer: int = 0) -> dict:
    """Raster attribute table (GDALDefaultRasterAttributeTable twin —
    hfadataset.cpp reads Edsc_Table/Edsc_Column nodes): -> {column name:
    numpy array} for every Edsc_Column under the layer's
    Descriptor_Table, plus '__bins__' metadata from the bin function.
    Column payloads live at absolute columnDataPtr offsets: integer ->
    i4 LE, real -> f8 LE, string -> maxNumChars fixed-width."""
    hfa = HFAFile(path)
    lay = hfa.layers[layer]
    lidx = hfa.entries.index(lay)
    tbl = hfa.named_child(lidx, "Descriptor_Table")
    if tbl is None:
        return {}
    tidx = hfa.entries.index(tbl)
    out = {}
    for col in hfa.children_of(tidx):
        if col["type"] == "Edsc_Column":
            d = col["data"]
            n = int(d["numRows"])
            at = int(d["columnDataPtr"])
            if d["dataType"] == "integer":
                out[col["name"]] = np.frombuffer(
                    vsi.pread(path, at, 4 * n), "<i4").copy()
            elif d["dataType"] == "real":
                out[col["name"]] = np.frombuffer(
                    vsi.pread(path, at, 8 * n), "<f8").copy()
            elif d["dataType"] == "string":
                w = int(d["maxNumChars"])
                raw = vsi.pread(path, at, w * n)
                out[col["name"]] = np.array(
                    [raw[i * w:(i + 1) * w].split(b"\x00")[0]
                     .decode("latin-1") for i in range(n)])
        elif col["type"] == "Edsc_BinFunction":
            out["__bins__"] = col["data"]
    return out
