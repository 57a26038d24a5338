"""NITF 2.1 raster source (frmts/nitf/nitfdataset.cpp, MIL-STD-2500C) —
uncompressed (IC=NC) image segments.

The fixed-width ASCII file header and image subheader parse on the
driver; pixel data is NBPR x NBPC blocks of NPPBH x NPPBV pixels at
closed-form offsets, so — like ISIS3 tiled cores — every Spark task
pread()s exactly its block. IMODE B (band-interleaved by block), S
(band sequential), P (pixel interleaved within block) and R (row
interleaved) all reduce to per-block offset+stride math. PVTYPE
INT/SI/R x NBPP -> dtype (big-endian per spec).

Pinned against the reference autotest fixture rgb.ntf (3 bands,
checksum 21349 — autotest/gdrivers/nitf.py:375).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks


class _R:
    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.p = pos

    def take(self, n: int) -> str:
        s = self.d[self.p:self.p + n].decode("ascii", errors="replace")
        self.p += n
        return s

    def num(self, n: int) -> int:
        return int(self.take(n) or 0)


def parse_nitf_header(data: bytes) -> dict:
    r = _R(data)
    fhdr = r.take(9)
    if not fhdr.startswith("NITF02.1"):
        raise ValueError(f"unsupported NITF version {fhdr!r}")
    r.take(2 + 4 + 10 + 14 + 80 + 1)        # CLEVEL..FSCLAS
    r.take(2 + 11 + 2 + 20 + 2 + 8 + 4 + 1 + 8 + 43 + 1 + 40 + 1
           + 8 + 15)                         # security block
    r.take(5 + 5 + 1 + 3 + 24 + 18)          # FSCOP..OPHONE
    r.num(12)                                # FL
    hl = r.num(6)
    numi = r.num(3)
    segs = []
    for _ in range(numi):
        lish = r.num(6)
        li = r.num(10)
        segs.append((lish, li))
    nums = r.num(3)
    for _ in range(nums):
        r.take(4 + 6)
    r.num(3)                                 # NUMX (reserved)
    numt = r.num(3)
    for _ in range(numt):
        r.take(4 + 5)
    numdes = r.num(3)
    for _ in range(numdes):
        r.take(4 + 9)
    numres = r.num(3)
    for _ in range(numres):
        r.take(4 + 7)
    return {"hl": hl, "segments": segs}


def parse_image_subheader(data: bytes, pos: int) -> dict:
    r = _R(data, pos)
    if r.take(2) != "IM":
        raise ValueError("not an image segment")
    r.take(10 + 14 + 17 + 80 + 1)            # IID1..ISCLAS
    r.take(2 + 11 + 2 + 20 + 2 + 8 + 4 + 1 + 8 + 43 + 1 + 40 + 1
           + 8 + 15)                         # security block
    r.take(1 + 42)                           # ENCRYP, ISORCE
    nrows = r.num(8)
    ncols = r.num(8)
    pvtype = r.take(3).strip()
    r.take(8 + 8)                            # IREP, ICAT
    r.num(2)                                 # ABPP
    r.take(1)                                # PJUST
    icords = r.take(1)
    igeolo = r.take(60) if icords.strip() else ""
    nicom = r.num(1)
    for _ in range(nicom):
        r.take(80)
    ic = r.take(2)
    if ic not in ("NC", "NM", "C8", "M8"):
        raise ValueError(f"unsupported NITF compression (IC={ic})")
    if ic != "NC":
        r.take(4)                            # COMRAT
    nbands = r.num(1)
    if nbands == 0:
        nbands = r.num(5)                    # XBANDS
    for _ in range(nbands):
        r.take(2 + 6 + 1 + 3)                # IREPBAND..IMFLT
        nluts = r.num(1)
        if nluts:
            nelut = r.num(5)
            r.p += nluts * nelut
    r.num(1)                                 # ISYNC
    imode = r.take(1)
    nbpr = r.num(4)
    nbpc = r.num(4)
    nppbh = r.num(4)
    nppbv = r.num(4)
    nbpp = r.num(2)
    r.take(3 + 3 + 10 + 4)                   # IDLVL, IALVL, ILOC, IMAG
    udidl = r.num(5)
    if udidl:
        r.take(3)
        r.p += udidl - 3
    ixshdl = r.num(5)
    if ixshdl:
        r.take(3)
        r.p += ixshdl - 3
    if pvtype == "SI":
        kind = "i"
    elif pvtype == "R":
        kind = "f"
    else:
        kind = "u"
    return {"nrows": nrows, "ncols": ncols, "nbands": nbands,
            "imode": imode, "nbpr": nbpr, "nbpc": nbpc,
            "nppbh": nppbh, "nppbv": nppbv, "nbpp": nbpp,
            "dtype": f"{kind}{max(1, nbpp // 8)}", "ic": ic,
            "igeolo": igeolo, "subheader_end": r.p, "mask": ic == "NM"}


def _read_nitf_jp2(spark, path, sub, data0, size):
    """IC=C8/M8 image segment -> tile table via the J2K decoder; the one
    task reads the segment's image data range (data0, size)."""
    nb = sub["nbands"]
    tile = 256
    dst = np.dtype(sub["dtype"]).str.lstrip("<>=|")
    sdf = spark.createDataFrame([(data0, size)], "off long, size long")

    def decode(s):
        from ..raster.j2k import decode_j2k, extract_codestream
        arr = decode_j2k(extract_codestream(vsi.pread(path, s.off, s.size)))
        for b in range(arr.shape[0]):
            yield from plane_tiles(arr[b], b + 1, 0, 0, tile, dst)

    meta = {"width": sub["ncols"], "height": sub["nrows"],
            "bands": nb, "tile": tile, "imode": sub["imode"],
            "dtype": sub["dtype"], "igeolo": sub["igeolo"],
            "ic": sub["ic"], "data_range": (data0, size)}
    return tiles_from_tasks(sdf, decode), meta


def read_nitf(spark: SparkSession, path: str):
    """.ntf (first image segment, IC=NC) -> (tile table, meta); one
    task per stored block, engine tile size = NPPBH (blocks must be
    square, the common case)."""
    head = vsi.pread(path, 0, 1 << 20)
    hdr = parse_nitf_header(head)
    seg_off = hdr["hl"]
    sub = parse_image_subheader(head, seg_off)
    # data start comes from the file header's LISH (subheader length),
    # exactly like the reference (nitflib segment table) — writers pad
    # subheaders, so the parsed field walk is metadata-only
    data0 = seg_off + hdr["segments"][0][0]
    size = hdr["segments"][0][1]
    if sub["mask"] or sub["ic"] == "M8":
        # NM/M8: a block-mask table precedes the data (IMDATOFF u32);
        # the segment still ends LI bytes after its start
        imdatoff = int.from_bytes(head[data0:data0 + 4], "big")
        data0 += imdatoff
        size -= imdatoff
    if sub["ic"] in ("C8", "M8"):
        # JP2-in-NITF (the reference's JPEG2000 codestream segment,
        # nitfdataset.cpp IC=C8): the whole segment is one JP2/J2K
        # codestream — decode through the from-scratch T.800 decoder
        # (5/3 AND 9/7) in one executor task; multi-tile codestreams
        # could fan out by SOT chain like sources/jp2.py.
        return _read_nitf_jp2(spark, path, sub, data0, size)
    if sub["nppbh"] != sub["nppbv"]:
        raise ValueError("non-square NITF blocks unsupported")
    tile = sub["nppbh"]
    item = max(1, sub["nbpp"] // 8)
    dt = np.dtype(">" + sub["dtype"])
    out_dt = dt.newbyteorder("=").str[1:]
    nb, nbpr, nbpc = sub["nbands"], sub["nbpr"], sub["nbpc"]
    blockbytes = tile * tile * item
    imode = sub["imode"]
    if imode not in ("S", "B", "P", "R"):
        raise ValueError(f"IMODE {imode!r} unsupported")

    jobs = [(bx, by, by * nbpr + bx)
            for by in range(nbpc) for bx in range(nbpr)]
    sdf = spark.createDataFrame(jobs, "bx long, by long, bi long")

    def decode(s):
        if imode == "S":          # all blocks of band b
            planes = [np.frombuffer(vsi.pread(
                path, data0 + (b * nbpr * nbpc + s.bi) * blockbytes,
                blockbytes), dt).reshape(tile, tile) for b in range(nb)]
        else:
            a = np.frombuffer(vsi.pread(path, data0 + s.bi * blockbytes * nb,
                                        blockbytes * nb), dt)
            if imode == "B":        # bands within the block
                planes = a.reshape(nb, tile, tile)
            elif imode == "P":      # pixel-interleaved block
                planes = a.reshape(tile, tile, nb).transpose(2, 0, 1)
            else:                   # row-interleaved block
                planes = a.reshape(tile, nb, tile).transpose(1, 0, 2)
        for b, plane in enumerate(planes, 1):
            yield from plane_tiles(plane, b, s.bx, s.by, tile, out_dt)

    meta = {"width": sub["ncols"], "height": sub["nrows"],
            "bands": nb, "tile": tile, "imode": imode,
            "dtype": sub["dtype"], "igeolo": sub["igeolo"]}
    return tiles_from_tasks(sdf, decode), meta


def write_nitf(tiles, path: str, *, width: int, height: int,
               tile: int = 256, dtype: str = "u1") -> None:
    """Tile table (band 1) -> one NITF 2.1 file, IC=NC, IMODE=B, one
    image segment, square NPPBH=NPPBV=tile blocks. Blocks pwrite in
    parallel at closed-form offsets (the same layout the reader
    preads); the header carries exact FL/HL/LISH/LI lengths."""
    import os

    import pandas as pd
    from pyspark.sql import types as T

    nbpr, nbpc = -(-width // tile), -(-height // tile)
    item = np.dtype(dtype).itemsize
    nbpp = item * 8
    pvtype = {"u": "INT", "i": "SI", "f": "R"}[dtype[0]]
    li = nbpr * nbpc * tile * tile * item

    sec = " " * (2 + 11 + 2 + 20 + 2 + 8 + 4 + 1 + 8 + 43 + 1 + 40
                 + 1 + 8 + 15)
    sub = ("IM" + "gdal_spark".ljust(10) + "20260101000000"
           + " " * 17 + " " * 80 + "U" + sec + "0" + "gdal_spark".ljust(42)
           + f"{height:08d}{width:08d}" + pvtype.ljust(3)
           + "MONO".ljust(8) + "VIS".ljust(8) + f"{nbpp:02d}" + "R" + " "
           + "0" + "NC" + "1" + "M ".ljust(2) + " " * 6 + "N" + " " * 3
           + "0" + "0" + "B" + f"{nbpr:04d}{nbpc:04d}{tile:04d}{tile:04d}"
           + f"{nbpp:02d}" + "001" + "000" + "0" * 10 + "1.0 "
           + "00000" + "00000")
    lish = len(sub)
    # file header: fixed fields up to FL, then lengths
    fh_head = ("NITF02.10" + "03" + "BF01" + "gdal_spark".ljust(10)
               + "20260101000000" + " " * 80 + "U" + sec
               + "00000" + "00000" + "0" + "\x00\x00\x00"
               + " " * 24 + " " * 18)
    tail = (f"{lish:06d}{li:010d}" + "000" + "000" + "000" + "000"
            + "000" + "00000" + "00000")
    hl = len(fh_head) + 12 + 6 + 3 + len(tail)
    fl = hl + lish + li
    header = (fh_head + f"{fl:012d}" + f"{hl:06d}" + "001"
              + tail).encode("latin-1")
    assert len(header) == hl
    data0 = hl + lish
    with open(path, "wb") as f:
        f.write(header + sub.encode("ascii"))
        f.truncate(fl)

    out_schema = T.StructType([T.StructField("tx", T.LongType()),
                               T.StructField("ty", T.LongType())])
    blockbytes = tile * tile * item

    def emit(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        from ..raster.tiles import decode_px
        arr = decode_px(pdf["px"].iloc[0], pdf["dtype"].iloc[0],
                        tile).astype(np.dtype(">" + dtype))
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, arr.tobytes(),
                      data0 + (ty * nbpr + tx) * blockbytes)
        finally:
            os.close(fd)
        return pd.DataFrame({"tx": [tx], "ty": [ty]})

    tiles.where("band = 1").groupBy("tile_x", "tile_y") \
        .applyInPandas(emit, out_schema).collect()
