"""HDF5 source (frmts/hdf5/hdf5dataset.cpp semantics, classic format).

A from-scratch reader for the HDF5 classic file format (the published
HDF5 File Format Specification v1/2): superblock v0-v3, object headers
v1 ("classic") and v2 ("OHDR"), symbol-table groups (B-tree v1 "TREE"
node type 0 + "SNOD" leaves + "HEAP" local heaps) and compact link
messages, dataspace/datatype/layout/filter-pipeline messages,
contiguous and chunked layouts (chunk B-tree v1 node type 1), and the
deflate / shuffle / fletcher32 filter pipeline. Datatype classes:
fixed-point (any endianness), IEEE float (2/4/8), and two-member
float compounds (read as complex, like the reference's HDF5 driver).
This is also the netCDF-4 container, so `.nc` files written by
netCDF-4 open through the same path.

Distribution: the superblock/group/B-tree walk is driver-side metadata
and stays metadata-SIZED — the walk goes through core.vsi.PagedReader,
which pages in only the superblock / object-header / B-tree / heap
pages it touches (LRU-bounded), so a multi-GB .h5 opens with a few
hundred KB resident (test_hdf5 pins bytes_fetched on a 4 GB file).
Chunk decode fans out one Spark task batch per chunk list — each task
preads only its chunk byte ranges via the same vsi seam, inflates,
unshuffles and lands engine tiles, the same access pattern as the
GeoTIFF/HFA readers.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks

_SIG = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF


class HDF5File:
    """Parsed node tree: {path: dataset-info dict}."""

    def __init__(self, path: str):
        self.path = path
        self.buf = vsi.PagedReader(path)
        b = self.buf
        # signature may sit at 0 or 512 * 2^n
        base = 0
        while b[base:base + 8] != _SIG:
            base = 512 if base == 0 else base * 2
            if base + 8 > len(b):
                raise ValueError("not an HDF5 file")
        self.base = base
        ver = b[base + 8]
        if ver in (0, 1):
            self.off_size = b[base + 13]
            self.len_size = b[base + 14]
            pos = base + 24
            if ver == 1:
                pos += 4
            pos += 4 * self.off_size       # base/freespace/eof/driver
            # root group symbol table entry
            root_hdr = self._entry_header(pos)
        elif ver in (2, 3):
            self.off_size = b[base + 9]
            self.len_size = b[base + 10]
            pos = base + 12
            pos += 3 * self.off_size
            root_hdr = self._off(pos)
        else:
            raise ValueError(f"superblock version {ver} unsupported")
        self.datasets = {}
        self._walk("", root_hdr, set())

    # -- low-level helpers -------------------------------------------------
    def _off(self, pos: int) -> int:
        return int.from_bytes(self.buf[pos:pos + self.off_size],
                              "little")

    def _len(self, pos: int) -> int:
        return int.from_bytes(self.buf[pos:pos + self.len_size],
                              "little")

    def _entry_header(self, pos: int) -> int:
        """Symbol table entry -> object header address (entry is
        link-name-offset, header-addr, cache-type, reserved, scratch)."""
        return self._off(pos + self.off_size)

    # -- object headers ----------------------------------------------------
    def _messages(self, addr: int):
        """Object header (v1 or v2) -> [(type, body offset, size)]."""
        b = self.buf
        out = []
        if b[addr:addr + 4] == b"OHDR":                  # version 2
            flags = b[addr + 5]
            pos = addr + 6
            if flags & 0x20:
                pos += 8                                 # times
            if flags & 0x10:
                pos += 4                                 # max compact
            size_bytes = 1 << (flags & 0x3)
            chunk_size = int.from_bytes(b[pos:pos + size_bytes],
                                        "little")
            pos += size_bytes
            end = pos + chunk_size
            blocks = [(pos, end)]
            creation_order = bool(flags & 0x04)
            while blocks:
                p, e = blocks.pop()
                while p + 4 <= e:
                    mtype = b[p]
                    msize = b.unpack("<H", p + 1)[0]
                    p += 4
                    if creation_order:
                        p += 2
                    if mtype == 0x10:                    # continuation
                        caddr = self._off(p)
                        clen = self._len(p + self.off_size)
                        blocks.append((caddr + 4, caddr + clen - 4))
                    else:
                        out.append((mtype, p, msize))
                    p += msize
            return out
        # version 1
        nmsgs = b.unpack("<H", addr + 2)[0]
        hdr_size = b.unpack("<I", addr + 8)[0]
        blocks = [(addr + 16, addr + 16 + hdr_size)]
        got = 0
        while blocks and got < nmsgs:
            p, e = blocks.pop(0)
            while p + 8 <= e and got < nmsgs:
                mtype, msize = b.unpack("<HH", p)
                body = p + 8
                got += 1
                if mtype == 0x10:                        # continuation
                    caddr = self._off(body)
                    clen = self._len(body + self.off_size)
                    blocks.append((caddr, caddr + clen))
                else:
                    out.append((mtype, body, msize))
                p = body + msize
        return out

    # -- group / dataset walk ----------------------------------------------
    def _walk(self, prefix: str, addr: int, seen: set):
        if addr in seen or addr == UNDEF:
            return
        seen.add(addr)
        msgs = self._messages(addr)
        types = {t for t, _p, _s in msgs}
        if 0x0008 in types and 0x0003 in types:          # a dataset
            try:
                self.datasets[prefix or "/"] = self._dataset(msgs)
            except (ValueError, struct.error, IndexError):
                pass                      # non-raster dataset: skip
            return
        for t, p, s in msgs:
            if t == 0x0011:                              # symbol table
                btree = self._off(p)
                heap = self._off(p + self.off_size)
                for name, haddr in self._group_entries(btree, heap):
                    self._walk(f"{prefix}/{name}", haddr, seen)
            elif t == 0x0006:                            # link message
                name, haddr = self._link_message(p)
                if haddr is not None:
                    self._walk(f"{prefix}/{name}", haddr, seen)

    def _group_entries(self, btree: int, heap: int):
        b = self.buf
        heap_data = self._off(heap + 8 + 2 * self.len_size)
        out = []

        def walk_btree(addr):
            if b[addr:addr + 4] != b"TREE":
                if b[addr:addr + 4] == b"SNOD":
                    walk_snod(addr)
                return
            level = b[addr + 5]
            n = b.unpack("<H", addr + 6)[0]
            pos = addr + 8 + 2 * self.off_size
            pos += self.len_size                         # key 0
            for _ in range(n):
                child = self._off(pos)
                pos += self.off_size + self.len_size
                if level > 0:
                    walk_btree(child)
                else:
                    walk_snod(child)

        def walk_snod(addr):
            n = b.unpack("<H", addr + 6)[0]
            pos = addr + 8
            esize = 2 * self.off_size + 8 + 16
            for _ in range(n):
                name_off = self._off(pos)
                haddr = self._off(pos + self.off_size)
                nm_at = heap_data + name_off
                name = b[nm_at:b.index(b"\x00", nm_at)] \
                    .decode("utf-8", "replace")
                out.append((name, haddr))
                pos += esize

        walk_btree(btree)
        return out

    def _link_message(self, p: int):
        b = self.buf
        ver, flags = b[p], b[p + 1]
        pos = p + 2
        ltype = 0
        if flags & 0x08:
            ltype = b[pos]
            pos += 1
        if flags & 0x04:
            pos += 8                                     # creation order
        if flags & 0x10:
            pos += 1                                     # charset
        nlen = int.from_bytes(b[pos:pos + (1 << (flags & 0x3))],
                              "little")
        pos += 1 << (flags & 0x3)
        name = b[pos:pos + nlen].decode("utf-8", "replace")
        pos += nlen
        if ltype == 0:                                   # hard link
            return name, self._off(pos)
        return name, None                                # soft/external

    # -- dataset assembly ----------------------------------------------------
    def _dataset(self, msgs) -> dict:
        b = self.buf
        info = {"filters": []}
        for t, p, s in msgs:
            if t == 0x0001:                              # dataspace
                ver = b[p]
                nd = b[p + 1]
                pos = p + (8 if ver == 1 else 4)
                dims = [self._len(pos + i * self.len_size)
                        for i in range(nd)]
                info["shape"] = dims
            elif t == 0x0003:                            # datatype
                info["dtype"] = self._datatype(p)
            elif t == 0x0008:                            # layout
                ver = b[p]
                if ver == 3:
                    cls = b[p + 1]
                    if cls == 1:                         # contiguous
                        info["layout"] = ("contiguous", self._off(p + 2),
                                          self._len(p + 2
                                                    + self.off_size))
                    elif cls == 2:                       # chunked
                        nd1 = b[p + 2]
                        bt = self._off(p + 3)
                        cd = [b.unpack("<I", p + 3 + self.off_size + 4 * i)[0]
                            for i in range(nd1)]
                        info["layout"] = ("chunked", bt, cd)
                    elif cls == 0:                       # compact
                        sz = b.unpack("<H", p + 2)[0]
                        info["layout"] = ("compact", p + 4, sz)
                else:                                    # v1/v2
                    nd = b[p + 1]
                    cls = b[p + 2]
                    pos = p + 8
                    addr = None
                    if cls != 0:
                        addr = self._off(pos)
                        pos += self.off_size
                    dims = [b.unpack("<I", pos + 4 * i)[0]
                            for i in range(nd)]
                    if cls == 1:
                        info["layout"] = ("contiguous", addr, -1)
                    elif cls == 2:
                        esz = b.unpack("<I", pos + 4 * nd)[0]
                        info["layout"] = ("chunked", addr, dims + [esz])
            elif t == 0x000B:                            # filter pipeline
                nf = b[p + 1]
                pos = p + (8 if b[p] == 1 else 2)
                for _ in range(nf):
                    fid, nlen, _fl, ncd = b.unpack("<HHHH", pos)
                    pos += 8
                    if b[p] == 1 or nlen:
                        nm = nlen + (7 - (nlen - 1) % 8 if nlen else 0)
                        pos += nm
                    pos += 4 * ncd
                    if b[p] == 1 and ncd % 2:
                        pos += 4                        # odd-count pad
                    info["filters"].append(fid)
        return info

    def _datatype(self, p: int):
        b = self.buf
        cls = b[p] & 0x0F
        bits0 = b[p + 1]
        size = b.unpack("<I", p + 4)[0]
        order = ">" if bits0 & 1 else "<"
        if cls == 0:                                     # fixed point
            signed = "i" if bits0 & 0x08 else "u"
            return f"{order}{signed}{size}"
        if cls == 1:                                     # float
            return f"{order}f{size}"
        if cls == 6:                                     # compound
            # two-float compound -> complex (reference HDF5 driver)
            return f"{order}c{size}"
        if cls == 3:                                     # string
            return f"S{size}"
        return f"unsupported-class-{cls}"               # vlen/ref/enum

    # -- chunk index ---------------------------------------------------------
    def chunks(self, info: dict):
        """[(grid offsets, file addr, stored size, filter mask)]."""
        b = self.buf
        kind = info["layout"][0]
        if kind != "chunked":
            raise ValueError("not chunked")
        bt = info["layout"][1]
        nd1 = len(info["layout"][2])
        out = []

        def walk(addr):
            if addr == UNDEF or b[addr:addr + 4] != b"TREE":
                return
            level = b[addr + 5]
            n = b.unpack("<H", addr + 6)[0]
            pos = addr + 8 + 2 * self.off_size
            ksize = 8 + 8 * nd1
            for _ in range(n):
                csize, fmask = b.unpack("<II", pos)
                offs = [int.from_bytes(
                    b[pos + 8 + 8 * i:pos + 16 + 8 * i], "little")
                    for i in range(nd1)]
                child = self._off(pos + ksize)
                if level > 0:
                    walk(child)
                else:
                    out.append((offs[:-1], child, csize, fmask))
                pos += ksize + self.off_size

        walk(bt)
        return out


def _apply_filters(raw: bytes, filters, fmask: int, itemsize: int,
                   n_elems: int) -> bytes:
    for k, fid in enumerate(reversed(filters)):
        idx = len(filters) - 1 - k
        if fmask & (1 << idx):
            continue
        if fid == 1:                                     # deflate
            raw = zlib.decompress(raw)
        elif fid == 2:                                   # shuffle
            a = np.frombuffer(raw, np.uint8)
            raw = a.reshape(itemsize, -1).T.copy().tobytes()
        elif fid == 3:                                   # fletcher32
            raw = raw[:-4]
        else:
            raise ValueError(f"filter {fid} unsupported")
    return raw


def read_dataset(hdf: HDF5File, name: str) -> np.ndarray:
    """Whole dataset -> numpy array (driver-side; the Spark reader
    partitions the same chunk list instead)."""
    info = hdf.datasets[name]
    shape = info["shape"]
    dt = np.dtype(info["dtype"].replace("c", "V")
                  if "c" in info["dtype"] else info["dtype"])
    is_cplx = "c" in info["dtype"]
    if is_cplx:
        size = int(info["dtype"].split("c")[1])
        half = f"{info['dtype'][0]}f{size // 2}"
        dt = np.dtype([("r", half), ("i", half)])
    kind, a, c = info["layout"]
    if kind in ("contiguous", "compact"):
        n = int(np.prod(shape))
        raw = vsi.pread(hdf.path, a, n * dt.itemsize)
        arr = np.frombuffer(raw, dt, count=n).reshape(shape)
    else:
        cd = c[:-1]
        arr = np.zeros(shape, dt)
        for offs, addr, csize, fmask in hdf.chunks(info):
            raw = _apply_filters(vsi.pread(hdf.path, addr, csize),
                                 info["filters"], fmask, dt.itemsize,
                                 int(np.prod(cd)))
            blk = np.frombuffer(raw, dt,
                                count=int(np.prod(cd))).reshape(cd)
            sl = tuple(slice(o, min(o + s, full))
                       for o, s, full in zip(offs, cd, shape))
            blk_sl = tuple(slice(0, s.stop - s.start) for s in sl)
            arr[sl] = blk[blk_sl]
    if is_cplx:
        return arr["r"].astype(np.float64) \
            + 1j * arr["i"].astype(np.float64)
    return arr


def read_hdf5(spark: SparkSession, path: str, dataset: str | None = None,
              tile: int = 256):
    """HDF5/netCDF-4 2-D dataset -> (engine tile table, HDF5File).
    Chunked datasets plan one task per engine tile-row strip — each
    task preads exactly the chunks intersecting its rows, inflates /
    unshuffles them and assembles square engine tiles; contiguous
    datasets split by row-strip byte ranges."""
    hdf = HDF5File(path)
    if dataset is None:
        two_d = [k for k, v in hdf.datasets.items()
                 if len(v["shape"]) == 2]
        if not two_d:
            two_d = sorted(hdf.datasets)
        dataset = sorted(two_d)[0]
    info = hdf.datasets[dataset]
    shape = list(info["shape"])
    if len(shape) == 1:
        shape = [1, shape[0]]
    h, w = int(shape[0]), int(shape[1])
    chunked = info["layout"][0] == "chunked"
    strips = []
    if chunked:
        cd = info["layout"][2][:-1]
        if len(cd) == 1:
            cd = [1, cd[0]]
        per_ty = {}
        for offs, addr, csize, fmask in hdf.chunks(info):
            o = ([0] + list(offs))[-2:]
            ty0 = o[0] // tile
            ty1 = min(o[0] + cd[0] - 1, h - 1) // tile
            for ty in range(ty0, ty1 + 1):
                per_ty.setdefault(ty, []).append(
                    (int(addr), int(csize), int(fmask),
                     int(o[0]), int(o[1])))
        for ty in range(-(-h // tile)):
            ch = per_ty.get(ty, [])
            strips.append((ty,
                           [c[0] for c in ch], [c[1] for c in ch],
                           [c[2] for c in ch], [c[3] for c in ch],
                           [c[4] for c in ch]))
    else:
        for ty in range(-(-h // tile)):
            strips.append((ty, [], [], [], [], []))
    idx = spark.createDataFrame(
        strips, "ty long, addr array<long>, csize array<long>, "
                "fmask array<long>, oy array<long>, ox array<long>")
    idx = idx.repartition(min(len(strips), 32) or 1)
    dts = info["dtype"]
    filters = list(info["filters"])
    cd2 = (info["layout"][2][:-1] if chunked else None)
    if cd2 is not None and len(cd2) == 1:
        cd2 = [1, cd2[0]]
    cont_addr = info["layout"][1] if not chunked else 0
    dt = np.dtype(dts)

    def decode(s):
        r0 = s.ty * tile
        rows_here = min(h - r0, tile)
        strip = np.zeros((rows_here, w), np.float64)
        if chunked:
            raws = vsi.pread_many(path, [(int(a), int(c)) for a, c in
                                         zip(s.addr, s.csize)])
            for raw, fmask, oy, ox in zip(raws, s.fmask, s.oy, s.ox):
                raw = _apply_filters(raw, filters, int(fmask), dt.itemsize,
                                     int(np.prod(cd2)))
                blk = np.frombuffer(raw, dt,
                                    count=cd2[0] * cd2[1]).reshape(cd2)
                # intersect chunk rows with this strip
                y0 = max(int(oy), r0)
                y1 = min(int(oy) + cd2[0], r0 + rows_here, h)
                x0 = int(ox)
                x1 = min(x0 + cd2[1], w)
                strip[y0 - r0:y1 - r0, x0:x1] = \
                    blk[y0 - int(oy):y1 - int(oy), :x1 - x0]
        elif cont_addr != UNDEF:
            raw = vsi.pread(path, cont_addr + r0 * w * dt.itemsize,
                            rows_here * w * dt.itemsize)
            strip[:, :] = np.frombuffer(
                raw, dt, count=rows_here * w).reshape(rows_here, w)
        return plane_tiles(strip, 1, 0, s.ty, tile, "float64")

    return tiles_from_tasks(idx, decode), hdf


# ---------------------------------------------------------------------------
# minimal classic-format writer (superblock v0, symbol-table root group,
# one contiguous 2-D dataset) — enough for the engine's own reader and
# any HDF5 1.x library to open
# ---------------------------------------------------------------------------

def write_hdf5(tiles: DataFrame, path: str, width_px: int,
               height_px: int, tile: int = 256, name: str = "Band1",
               np_dtype: str = "<i2") -> None:
    """Tile table -> single-dataset .h5 (contiguous little-endian),
    pixel strips pwritten in parallel at closed-form offsets."""
    from ..raster.tiles import decode_px
    from pyspark.sql import types as T

    dt = np.dtype(np_dtype)
    o_root, o_btree, o_snod, o_heap, o_heapdata, o_dset = \
        96, 160, 512, 680, 744, 808
    data_at = 1024
    total = data_at + width_px * height_px * dt.itemsize

    def u64(v):
        return int(v).to_bytes(8, "little")

    buf = bytearray(data_at)
    # superblock v0
    buf[0:8] = _SIG
    buf[8:16] = bytes([0, 0, 0, 0, 0, 8, 8, 0])
    struct.pack_into("<HH", buf, 16, 4, 16)     # leaf/internal k
    buf[24:32] = u64(0)                          # base
    buf[32:40] = u64(UNDEF)                      # free space
    buf[40:48] = u64(total)                      # eof
    buf[48:56] = u64(UNDEF)                      # driver info
    buf[56:64] = u64(0)                          # root link name off
    buf[64:72] = u64(o_root)                     # root ohdr
    struct.pack_into("<II", buf, 72, 0, 0)       # cache 0
    # root object header v1: one symbol-table message
    struct.pack_into("<BBHI", buf, o_root, 1, 0, 1, 1)
    struct.pack_into("<I", buf, o_root + 8, 24)  # header size
    struct.pack_into("<HH", buf, o_root + 16, 0x0011, 16)
    buf[o_root + 24:o_root + 32] = u64(o_btree)
    buf[o_root + 32:o_root + 40] = u64(o_heap)
    # group B-tree v1, level 0, 1 entry
    buf[o_btree:o_btree + 4] = b"TREE"
    buf[o_btree + 4:o_btree + 6] = bytes([0, 0])  # type 0, level 0
    struct.pack_into("<H", buf, o_btree + 6, 1)
    buf[o_btree + 8:o_btree + 16] = u64(UNDEF)
    buf[o_btree + 16:o_btree + 24] = u64(UNDEF)
    buf[o_btree + 24:o_btree + 32] = u64(0)      # key 0
    buf[o_btree + 32:o_btree + 40] = u64(o_snod)
    buf[o_btree + 40:o_btree + 48] = u64(8)      # key 1: name offset
    # SNOD with one entry
    buf[o_snod:o_snod + 4] = b"SNOD"
    buf[o_snod + 4:o_snod + 6] = bytes([1, 0])
    struct.pack_into("<H", buf, o_snod + 6, 1)
    e = o_snod + 8
    buf[e:e + 8] = u64(8)                        # name offset in heap
    buf[e + 8:e + 16] = u64(o_dset)
    # local heap
    buf[o_heap:o_heap + 4] = b"HEAP"
    buf[o_heap + 4:o_heap + 8] = bytes([0, 0, 0, 0])
    buf[o_heap + 8:o_heap + 16] = u64(64)        # data segment size
    buf[o_heap + 16:o_heap + 24] = u64(8 + len(name) + 1)
    buf[o_heap + 24:o_heap + 32] = u64(o_heapdata)
    buf[o_heapdata + 8:o_heapdata + 8 + len(name)] = \
        name.encode("ascii")
    # dataset object header v1: dataspace + datatype + layout
    msgs = []
    ds_body = struct.pack("<BB6x", 1, 2) + u64(height_px) + u64(width_px)
    msgs.append((0x0001, ds_body))
    cls = 0 if dt.kind in "iu" else 1
    bits0 = (0x08 if dt.kind == "i" else 0)
    dt_body = bytes([0x10 | cls, bits0, 0, 0]) \
        + struct.pack("<I", dt.itemsize) \
        + struct.pack("<HH", 0, dt.itemsize * 8) \
        + (struct.pack("<BBHH6x", dt.itemsize * 8 - 1, 8,
                       dt.itemsize * 8 - 9, 127 if dt.itemsize == 4
                       else 1023) if cls == 1 else b"")
    msgs.append((0x0003, dt_body))
    lay = bytes([3, 1]) + u64(data_at) \
        + u64(width_px * height_px * dt.itemsize)
    msgs.append((0x0008, lay))
    pos = o_dset + 16
    hdr_bytes = bytearray()
    for mt, body in msgs:
        pad = (8 - len(body) % 8) % 8
        hdr_bytes += struct.pack("<HHI", mt, len(body) + pad, 0)
        hdr_bytes += body + b"\x00" * pad
    struct.pack_into("<BBHI", buf, o_dset, 1, 0, len(msgs), 1)
    struct.pack_into("<I", buf, o_dset + 8, len(hdr_bytes))
    buf[pos:pos + len(hdr_bytes)] = hdr_bytes

    with open(path, "wb") as f:
        f.write(bytes(buf))
        f.truncate(total)

    out_schema = None
    from pyspark.sql import types as T2
    out_schema = T2.StructType([T2.StructField("ty", T2.LongType()),
                                T2.StructField("n", T2.LongType())])
    row_bytes = width_px * dt.itemsize

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height_px - r0, tile)
        strip = np.zeros((rows_here, width_px), dt)
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile)
            x0 = int(r.tile_x) * tile
            ww = min(tile, width_px - x0)
            strip[:, x0:x0 + ww] = arr[:rows_here, :ww].astype(dt)
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, strip.tobytes(), data_at + r0 * row_bytes)
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [rows_here]})

    tiles.groupBy("tile_y").applyInPandas(emit, out_schema).collect()


# ---------------------------------------------------------------------------
# multidim API (GDALMDArray semantics, gcore/gdalmultidim.cpp): >2-D
# variables exposed as a LONG-FORMAT table instead of flattened 2-D
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

MD_SCHEMA = T.StructType([
    T.StructField("array", T.StringType()),
    T.StructField("d0", T.LongType()),        # leading dims, NULL when
    T.StructField("d1", T.LongType()),        # the rank is < 4/3
    T.StructField("tile_x", T.IntegerType()),
    T.StructField("tile_y", T.IntegerType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("px", T.BinaryType()),
])


def read_hdf5_multidim(spark: SparkSession, path: str,
                       dataset: str | None = None, tile: int = 256):
    """N-D (rank 2..4) HDF5 variable -> long-format multidim table
    (array, d0, d1, tile_x, tile_y, dtype, px): one engine tile grid
    PER leading-index combination — the reference's GDALMDArray view
    (gcore/gdalmultidim.cpp) instead of the 2-D flattening read_hdf5
    applies.  The driver walks only bounded metadata; (combo, strip)
    tasks pread their byte ranges executor-side.  Contiguous and
    chunked (deflate/shuffle) layouts both supported."""
    hdf = HDF5File(path)
    if dataset is None:
        nd = [k for k, v in hdf.datasets.items()
              if len(v["shape"]) >= 3]
        dataset = sorted(nd or hdf.datasets)[0]
    info = hdf.datasets[dataset]
    shape = [int(s) for s in info["shape"]]
    if len(shape) < 2:
        shape = [1] * (2 - len(shape)) + shape
    if len(shape) > 4:
        raise ValueError("rank > 4 unsupported (lead dims d0, d1)")
    lead = shape[:-2]
    h, w = shape[-2], shape[-1]
    dts = info["dtype"]
    chunked = info["layout"][0] == "chunked"
    filters = list(info["filters"])
    combos = [()]
    for n in lead:
        combos = [c + (i,) for c in combos for i in range(n)]
    n_ty = -(-h // tile)
    if chunked:
        cd = [int(x) for x in info["layout"][2][:-1]]
        while len(cd) < len(shape):
            cd = [1] + cd
        per = {}
        for offs, addr, csize, fmask in hdf.chunks(info):
            offs = ([0] * (len(shape) - len(offs))) + [int(o)
                                                       for o in offs]
            lead_off = offs[:-2]
            oy, ox = offs[-2], offs[-1]
            lead_ranges = [range(o, min(o + c, n))
                           for o, c, n in zip(lead_off, cd[:-2], lead)]
            cc = [()]
            for rg in lead_ranges:
                cc = [c + (i,) for c in cc for i in rg]
            for combo in cc:
                for ty in range(oy // tile,
                                min(oy + cd[-2] - 1, h - 1) // tile + 1):
                    per.setdefault((combo, ty), []).append(
                        (int(addr), int(csize), int(fmask), oy, ox,
                         [int(o) for o in lead_off]))
        tasks = [(list(k[0]), k[1],
                  [c[0] for c in v], [c[1] for c in v],
                  [c[2] for c in v], [c[3] for c in v],
                  [c[4] for c in v], [c[5] for c in v])
                 for k, v in sorted(per.items())]
    else:
        tasks = [(list(c), ty, [], [], [], [], [], [])
                 for c in combos for ty in range(n_ty)]
    idx = spark.createDataFrame(
        tasks, "lead array<long>, ty long, addr array<long>, "
               "csize array<long>, fmask array<long>, oy array<long>, "
               "ox array<long>, loff array<array<long>>")
    idx = idx.repartition(min(len(tasks), 32) or 1)
    cont_addr = info["layout"][1] if not chunked else 0
    cd_full = ([int(x) for x in info["layout"][2][:-1]]
               if chunked else None)
    if cd_full is not None:
        while len(cd_full) < len(shape):
            cd_full = [1] + cd_full
    cols = [f.name for f in MD_SCHEMA.fields]
    nlead = len(lead)

    def gen(batches):
        dt = np.dtype(dts)
        for pdf in batches:
            out = []
            for s in pdf.itertuples(index=False):
                combo = tuple(int(x) for x in s.lead)
                ty = int(s.ty)
                r0 = ty * tile
                rows_here = min(h - r0, tile)
                strip = np.zeros((rows_here, w), np.float64)
                if chunked:
                    for addr, csize, fmask, oy, ox, loff in zip(
                            s.addr, s.csize, s.fmask, s.oy, s.ox,
                            s.loff):
                        raw = _apply_filters(
                            vsi.pread(path, int(addr), int(csize)),
                            filters, int(fmask), dt.itemsize,
                            int(np.prod(cd_full)))
                        blk = np.frombuffer(
                            raw, dt,
                            count=int(np.prod(cd_full))) \
                            .reshape(cd_full)
                        # slice this combo out of the chunk lead dims
                        for ax, (ci, lo) in enumerate(
                                zip(combo, [int(x) for x in loff])):
                            blk = np.take(blk, ci - lo, axis=0)
                        oy, ox = int(oy), int(ox)
                        y0 = max(oy, r0)
                        y1 = min(oy + cd_full[-2], r0 + rows_here, h)
                        x1 = min(ox + cd_full[-1], w)
                        strip[y0 - r0:y1 - r0, ox:x1] = \
                            blk[y0 - oy:y1 - oy, :x1 - ox]
                elif cont_addr != UNDEF:
                    plane = 0
                    for ci, span in zip(combo, lead):
                        plane = plane * span + ci
                    base = cont_addr + (plane * h * w
                                        + r0 * w) * dt.itemsize
                    raw = vsi.pread(path, base,
                                    rows_here * w * dt.itemsize)
                    strip[:, :] = np.frombuffer(
                        raw, dt, count=rows_here * w) \
                        .reshape(rows_here, w)
                # UNDEF address: unallocated dataset reads as fill 0
                d0 = combo[0] if nlead >= 1 else None
                d1 = combo[1] if nlead >= 2 else None
                out += [(dataset, d0, d1, tx, ty, dt_, px)
                        for _, _, tx, ty, dt_, _, px in plane_tiles(
                            strip, 1, 0, ty, tile, "float64")]
            yield (pd.DataFrame(out, columns=cols) if out
                   else pd.DataFrame(columns=cols))

    return idx.mapInPandas(gen, MD_SCHEMA), hdf


def write_hdf5_nd(arr: np.ndarray, path: str, name: str = "var") -> None:
    """N-D fixture writer: contiguous little-endian dataset with a
    rank-N dataspace (same minimal classic layout as write_hdf5)."""
    arr = np.ascontiguousarray(arr)
    dt = arr.dtype
    o_root, o_btree, o_snod, o_heap, o_heapdata, o_dset = \
        96, 160, 512, 680, 744, 808
    data_at = 1024
    total = data_at + arr.nbytes

    def u64(v):
        return int(v).to_bytes(8, "little")

    buf = bytearray(data_at)
    buf[0:8] = _SIG
    buf[8:16] = bytes([0, 0, 0, 0, 0, 8, 8, 0])
    struct.pack_into("<HH", buf, 16, 4, 16)
    buf[24:32] = u64(0)
    buf[32:40] = u64(UNDEF)
    buf[40:48] = u64(total)
    buf[48:56] = u64(UNDEF)
    buf[56:64] = u64(0)
    buf[64:72] = u64(o_root)
    struct.pack_into("<II", buf, 72, 0, 0)
    struct.pack_into("<BBHI", buf, o_root, 1, 0, 1, 1)
    struct.pack_into("<I", buf, o_root + 8, 24)
    struct.pack_into("<HH", buf, o_root + 16, 0x0011, 16)
    buf[o_root + 24:o_root + 32] = u64(o_btree)
    buf[o_root + 32:o_root + 40] = u64(o_heap)
    buf[o_btree:o_btree + 4] = b"TREE"
    buf[o_btree + 4:o_btree + 6] = bytes([0, 0])
    struct.pack_into("<H", buf, o_btree + 6, 1)
    buf[o_btree + 8:o_btree + 16] = u64(UNDEF)
    buf[o_btree + 16:o_btree + 24] = u64(UNDEF)
    buf[o_btree + 24:o_btree + 32] = u64(0)
    buf[o_btree + 32:o_btree + 40] = u64(o_snod)
    buf[o_btree + 40:o_btree + 48] = u64(8)
    buf[o_snod:o_snod + 4] = b"SNOD"
    buf[o_snod + 4:o_snod + 6] = bytes([1, 0])
    struct.pack_into("<H", buf, o_snod + 6, 1)
    e = o_snod + 8
    buf[e:e + 8] = u64(8)
    buf[e + 8:e + 16] = u64(o_dset)
    buf[o_heap:o_heap + 4] = b"HEAP"
    buf[o_heap + 4:o_heap + 8] = bytes([0, 0, 0, 0])
    buf[o_heap + 8:o_heap + 16] = u64(64)
    buf[o_heap + 16:o_heap + 24] = u64(8 + len(name) + 1)
    buf[o_heap + 24:o_heap + 32] = u64(o_heapdata)
    buf[o_heapdata + 8:o_heapdata + 8 + len(name)] = name.encode("ascii")
    msgs = []
    rank = arr.ndim
    ds_body = struct.pack("<BB6x", 1, rank) \
        + b"".join(u64(s) for s in arr.shape)
    msgs.append((0x0001, ds_body))
    cls = 0 if dt.kind in "iu" else 1
    bits0 = (0x08 if dt.kind == "i" else 0)
    dt_body = bytes([0x10 | cls, bits0, 0, 0]) \
        + struct.pack("<I", dt.itemsize) \
        + struct.pack("<HH", 0, dt.itemsize * 8) \
        + (struct.pack("<BBHH6x", dt.itemsize * 8 - 1, 8,
                       dt.itemsize * 8 - 9, 127 if dt.itemsize == 4
                       else 1023) if cls == 1 else b"")
    msgs.append((0x0003, dt_body))
    msgs.append((0x0008, bytes([3, 1]) + u64(data_at) + u64(arr.nbytes)))
    pos = o_dset + 16
    hdr_bytes = bytearray()
    for mt, body in msgs:
        pad = (8 - len(body) % 8) % 8
        hdr_bytes += struct.pack("<HHI", mt, len(body) + pad, 0)
        hdr_bytes += body + b"\x00" * pad
    struct.pack_into("<BBHI", buf, o_dset, 1, 0, len(msgs), 1)
    struct.pack_into("<I", buf, o_dset + 8, len(hdr_bytes))
    buf[pos:pos + len(hdr_bytes)] = hdr_bytes
    with open(path, "wb") as f:
        f.write(bytes(buf))
        f.write(arr.tobytes())
