"""SDTS DEM source (frmts/sdts/sdtsrasterreader.cpp over ISO 8211).

An SDTS transfer is a directory of .DDF modules indexed by the CATD
catalog: IDEN (title), IREF (internal reference: SADR scale/offset and
X/Y resolution), LDEF (layer definition: NROW/NCOL/origin/INTR), RSDF
(raster definition: SADR origin, G2 2-D raster code) and CEL0 (one
ISO 8211 record per raster ROW, CVLS = big-endian B(16) elevations,
-32766 nodata — the USGS DEM profile). The geotransform follows the
reference exactly: origin from RSDF's SADR through IREF's scale/offset,
X/YHRS resolutions, and the half-pixel shift when INTR=CE.

Distribution: module metadata is driver-side (core/iso8211.DDFModule,
incl. leader-id 'R' reused-header streams); cell rows fan out one Spark
task batch per row range over the CEL0 byte table — the same row-strip
plan as the other line-oriented readers.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..core.iso8211 import DDFModule
from ..raster.tiles import plane_tiles, tiles_from_tasks

NODATA = -32766.0


def open_catalog(catd_path: str) -> dict:
    """CATD module -> {module name: absolute file path}."""
    base = os.path.dirname(catd_path) or "."
    out = {}
    for rec in DDFModule(catd_path):
        for c in rec.get("CATD", []):
            if "NAME" in c and "FILE" in c:
                out[c["NAME"]] = os.path.join(base, c["FILE"])
    return out


def parse_header(catd_path: str) -> dict:
    cat = open_catalog(catd_path)
    iref = next(iter(DDFModule(cat["IREF"])))["IREF"][0]
    ldef = next(iter(DDFModule(cat["LDEF"])))["LDEF"][0]
    rsdf = next(iter(DDFModule(cat["RSDF"])))
    sadr = rsdf["SADR"][0]
    x0 = sadr["X"] * iref.get("SFAX", 1.0) + iref.get("XORG", 0.0)
    y0 = sadr["Y"] * iref.get("SFAY", 1.0) + iref.get("YORG", 0.0)
    dx = iref.get("XHRS", 1.0)
    dy = iref.get("YHRS", 1.0)
    gt = [x0, dx, 0.0, y0, 0.0, -dy]
    if ldef.get("INTR", "CE") == "CE":       # origin = pixel center
        gt[0] -= gt[1] * 0.5
        gt[3] -= gt[5] * 0.5
    title = None
    if "IDEN" in cat:
        iden = next(iter(DDFModule(cat["IDEN"])))["IDEN"][0]
        title = iden.get("TITL")
    return {"width": int(ldef["NCOL"]), "height": int(ldef["NROW"]),
            "sori": int(ldef.get("SORI", 1)),
            "cell_file": cat[ldef.get("CMNM", "CEL0")],
            "gt": tuple(gt), "title": title, "catalog": cat}


def read_sdts(spark: SparkSession, catd_path: str, tile: int = 256):
    """SDTS DEM transfer -> (engine tile table, header dict)."""
    meta = parse_header(catd_path)
    w, hgt = meta["width"], meta["height"]
    sori = meta["sori"]
    cell_path = meta["cell_file"]
    # drive the row list driver-side once (records are header-light);
    # ship decoded rows per strip through Arrow
    rows = {}
    for rec in DDFModule(cell_path):
        cell = rec.get("CELL", [{}])[0]
        vals = [d.get("ELEVATION") for d in rec.get("CVLS", [])]
        if "ROWI" in cell and vals:
            rows[int(cell["ROWI"]) - sori] = vals
    strips = []
    for ty in range(-(-hgt // tile)):
        r0, r1 = ty * tile, min(hgt, (ty + 1) * tile)
        payload = [rows.get(r, []) for r in range(r0, r1)]
        strips.append((ty, payload))
    sdf = spark.createDataFrame(strips,
                                "ty long, rows array<array<int>>")

    def decode(s):
        arr = np.full((len(s.rows), w), NODATA, np.float64)
        for r, vals in enumerate(s.rows):
            v = np.asarray(vals[:w], np.float64)
            arr[r, :len(v)] = v
        return plane_tiles(arr, 1, 0, s.ty, tile, "float64", NODATA,
                           fill=NODATA)

    return tiles_from_tasks(sdf, decode), meta


# ---------------------------------------------------------------------------
# writer: a minimal five-module SDTS DEM transfer (CATD/IDEN/IREF/LDEF/
# RSDF/CEL0) readable by this reader and by the reference's ISO 8211 path
# ---------------------------------------------------------------------------

_FT, _UT = b"\x1e", b"\x1f"


def _ddr(fields) -> bytes:
    """[(tag, labels, fmt)] -> DDR record bytes (entry sizes 5/5/4)."""
    bodies = []
    for _tag, labels, fmt in fields:
        bodies.append(b"0000;&" + _UT + labels.encode() + _UT
                      + fmt.encode() + _FT)
    directory = b""
    pos = 0
    for (tag, _l, _f), body in zip(fields, bodies):
        directory += f"{tag:<4s}{len(body):05d}{pos:05d}".encode()
        pos += len(body)
    directory += _FT
    area_off = 24 + len(directory)
    total = area_off + sum(len(b) for b in bodies)
    leader = (f"{total:05d}" + "2L" + "E1 09" + f"{area_off:05d}"
              + " ! " + "5504").encode()
    assert len(leader) == 24
    return leader + directory + b"".join(bodies)


def _drec(fields) -> bytes:
    """[(tag, body bytes)] -> one data record."""
    directory = b""
    pos = 0
    for tag, body in fields:
        directory += f"{tag:<4s}{len(body):05d}{pos:05d}".encode()
        pos += len(body)
    directory += _FT
    area_off = 24 + len(directory)
    total = area_off + sum(len(b) for _t, b in fields)
    leader = (f"{total:05d}" + " D" + "     " + f"{area_off:05d}"
              + "   " + "5504").encode()
    assert len(leader) == 24
    return leader + directory + b"".join(b for _t, b in fields)


def write_sdts(tiles, dirname: str, width_px: int, height_px: int,
               tile: int = 256, prefix: str = "9999",
               gt=(0.0, 30.0, 0.0, 0.0, 0.0, -30.0),
               title: str = "GDAL_SPARK DEM") -> str:
    """Tile table -> <dirname>/<prefix>CATD.DDF transfer. CEL0 rows are
    fixed-size records, so each tile-row strip pwrites at closed-form
    offsets; the metadata modules are header-sized driver writes.
    Returns the CATD path."""
    from ..raster.tiles import decode_px
    import pandas as pd
    from pyspark.sql import types as T

    os.makedirs(dirname, exist_ok=True)

    def path(mod):
        return os.path.join(dirname, f"{prefix}{mod}.DDF")

    def sub(*vals):
        return _UT.join(str(v).encode() for v in vals)

    # CATD
    mods = ["IDEN", "IREF", "LDEF", "RSDF", "CEL0"]
    recs = []
    for i, mod in enumerate(mods):
        recs.append(_drec([
            ("0001", f"{i + 1:07d}".encode() + _FT),
            ("CATD", sub("CATD", i + 1, mod, "module",
                         f"{prefix}{mod}.DDF", "N") + _FT)]))
    with open(path("CATD"), "wb") as f:
        f.write(_ddr([("0001", "", "(I(7))"),
                      ("CATD", "MODN!RCID!NAME!TYPE!FILE!EXTR",
                       "(A,I,A,A,A,A)")]))
        f.write(b"".join(recs))
    # IDEN
    with open(path("IDEN"), "wb") as f:
        f.write(_ddr([("0001", "", "(I(7))"),
                      ("IDEN", "MODN!RCID!TITL", "(A,I,A)")]))
        f.write(_drec([("0001", b"0000001" + _FT),
                       ("IDEN", sub("IDEN", 1, title) + _FT)]))
    # IREF (origin folded into SADR; unit scale)
    with open(path("IREF"), "wb") as f:
        f.write(_ddr([("0001", "", "(I(7))"),
                      ("IREF",
                       "MODN!RCID!SATP!XLBL!YLBL!HFMT!SFAX!SFAY!XORG"
                       "!YORG!XHRS!YHRS",
                       "(A,I,A,A,A,A,R,R,R,R,R,R)")]))
        f.write(_drec([("0001", b"0000001" + _FT),
                       ("IREF", sub("IREF", 1, "2-TUPLE", "X", "Y", "R",
                                    1.0, 1.0, 0.0, 0.0, gt[1],
                                    -gt[5]) + _FT)]))
    # LDEF (INTR=TL: gt origin is already the top-left corner)
    with open(path("LDEF"), "wb") as f:
        f.write(_ddr([("0001", "", "(I(7))"),
                      ("LDEF",
                       "MODN!RCID!CMNM!LLBL!CODE!NROW!NCOL!SORI!SOCI"
                       "!INTR", "(A,I,A,A,A,I,I,I,I,A)")]))
        f.write(_drec([("0001", b"0000001" + _FT),
                       ("LDEF", sub("LDEF", 1, "CEL0", "ELEVATION",
                                    "V", height_px, width_px, 1, 1,
                                    "TL") + _FT)]))
    # RSDF
    with open(path("RSDF"), "wb") as f:
        f.write(_ddr([("0001", "", "(I(7))"),
                      ("RSDF", "MODN!RCID!OBRP", "(A,I,A)"),
                      ("SADR", "X!Y", "(R,R)"),
                      ("LYID", "MODN!RCID", "(A,I)")]))
        f.write(_drec([("0001", b"0000001" + _FT),
                       ("RSDF", sub("RSDF", 1, "G2") + _FT),
                       ("SADR", sub(gt[0], gt[3]) + _FT),
                       ("LYID", sub("LDEF", 1) + _FT)]))
    # CEL0: fixed-size records -> parallel pwrite (size from a sample)
    row_digits = 5

    def _cell(row):
        # fixed-width per the declared (A(4),I(5),I(5),I(5)) format
        return (b"CEL0" + f"{row + 1:0{row_digits}d}".encode()
                + f"{row + 1:0{row_digits}d}".encode()
                + f"{1:0{row_digits}d}".encode() + _FT)

    rec_len = len(_drec([("0001", b"0" * 7 + _FT),
                         ("CELL", _cell(0)),
                         ("CVLS", b"x" * (2 * width_px) + _FT)]))
    hdr = _ddr([("0001", "", "(I(7))"),
                ("CELL", "MODN!RCID!ROWI!COLI",
                 f"(A(4),I({row_digits}),I({row_digits}),"
                 f"I({row_digits}))"),
                ("CVLS", "ELEVATION", "(B(16))")])
    cpath = path("CEL0")
    with open(cpath, "wb") as f:
        f.write(hdr)
        f.truncate(len(hdr) + rec_len * height_px)

    out_schema = T.StructType([T.StructField("ty", T.LongType()),
                               T.StructField("n", T.LongType())])
    hdr_len = len(hdr)

    def emit(key, pdf):
        ty = int(key[0])
        r0 = ty * tile
        rows_here = min(height_px - r0, tile)
        strip = np.zeros((rows_here, width_px), ">i2")
        for r in pdf.itertuples(index=False):
            arr = decode_px(r.px, r.dtype, tile)
            x0 = int(r.tile_x) * tile
            ww = min(tile, width_px - x0)
            strip[:, x0:x0 + ww] = arr[:rows_here, :ww].astype(">i2")
        fd = os.open(cpath, os.O_WRONLY)
        try:
            for r in range(rows_here):
                row = r0 + r
                rec = _drec([("0001", f"{row + 1:07d}".encode() + _FT),
                             ("CELL", _cell(row)),
                             ("CVLS", strip[r].tobytes() + _FT)])
                if len(rec) != rec_len:
                    raise ValueError("CEL0 record size drifted")
                os.pwrite(fd, rec, hdr_len + row * rec_len)
        finally:
            os.close(fd)
        return pd.DataFrame({"ty": [ty], "n": [rows_here]})

    tiles.groupBy("tile_y").applyInPandas(emit, out_schema).collect()
    return path("CATD")
