"""USGS ISIS3 cube source (frmts/pds/isis3dataset.cpp).

PVL label (Object/Group nesting, ``End_Object``/``End_Group``/``End``),
Core at 1-based StartByte. The interesting part for a distributed
engine: ISIS3's native ``Format = Tile`` storage IS a tile table —
tiles are stored sequentially (band-major, then tile-row, then
tile-col), so every Spark task pread()s exactly its tile at a
closed-form offset with zero re-striping. BandSequential cores fall
back to the strip plan. Pixel types UnsignedByte/SignedWord/Real with
Lsb/Msb byte order; Base/Multiplier surface as band scale/offset (the
reference exposes them the same way and checksums raw DNs). ISIS
special value NULL (-32768 / 0 / -3.4e38) -> nodata.

Pinned against the reference autotest: isis3_unit_test.cub band-1
checksum 42403 (autotest/gdrivers/isis.py:78).
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks

_PTYPES = {"UNSIGNEDBYTE": ("u1", 0.0), "SIGNEDWORD": ("i2", -32768.0),
           "REAL": ("f4", -3.4028226550889045e38)}


def parse_pvl(text: str) -> dict:
    """ISIS3 PVL -> nested dict (Object/Group blocks keyed by name)."""
    root: dict = {}
    stack = [root]
    pending_key = None
    pending_val = ""
    for raw in text.split("\n"):
        ln = raw.split("#", 1)[0].rstrip()
        if pending_key is not None:
            pending_val += " " + ln.strip()
            if pending_val.count("(") <= pending_val.count(")"):
                stack[-1][pending_key] = pending_val.strip()
                pending_key = None
            continue
        s = ln.strip()
        if not s:
            continue
        low = s.lower()
        if low in ("end_object", "end_group"):
            if len(stack) > 1:
                stack.pop()
            continue
        if low == "end":
            break
        m = re.match(r"(Object|Group)\s*=\s*(\S+)", s, re.I)
        if m:
            sub: dict = {}
            stack[-1].setdefault(m.group(2), sub)
            stack.append(sub)
            continue
        if "=" in s:
            k, v = s.split("=", 1)
            k, v = k.strip(), v.strip()
            if v.count("(") > v.count(")"):
                pending_key, pending_val = k, v
                continue
            v = re.sub(r"<[^>]*>\s*$", "", v).strip()   # unit suffix
            if v.startswith('"') and v.endswith('"') and len(v) >= 2:
                stack[-1][k] = v[1:-1]
                continue
            try:
                stack[-1][k] = int(v)
            except ValueError:
                try:
                    stack[-1][k] = float(v)
                except ValueError:
                    stack[-1][k] = v
    return root


def read_isis3(spark: SparkSession, path: str):
    """.cub / detached .lbl -> (tile table, meta). Tile-format cores map
    one stored tile -> one engine tile (task-parallel preads);
    BandSequential cores read line strips."""
    lbl = parse_pvl(vsi.pread(path, 0, 1 << 20)
                    .decode("ascii", errors="replace"))
    cube = lbl.get("IsisCube")
    if cube is None or "Core" not in cube:
        raise ValueError("not an ISIS3 cube (no IsisCube/Core)")
    core = cube["Core"]
    dims = core["Dimensions"]
    pix = core["Pixels"]
    ns, nl, nb = int(dims["Samples"]), int(dims["Lines"]), \
        int(dims["Bands"])
    ptype = str(pix["Type"]).upper()
    dt_code, null_val = _PTYPES[ptype]
    order = "<" if str(pix.get("ByteOrder", "Lsb")).lower() == "lsb" \
        else ">"
    dt = np.dtype(order + dt_code)
    item = dt.itemsize
    start = int(core.get("StartByte", 1)) - 1
    data_path = path
    ptr = core.get("^Core") or lbl.get("^Core")
    if ptr:
        cand = os.path.join(os.path.dirname(path), str(ptr).strip('"'))
        if os.path.exists(cand):
            data_path = cand
            if "StartByte" not in core:
                start = 0
    fmt = str(core.get("Format", "BandSequential")).upper()
    out_dt = dt_code
    meta = {"width": ns, "height": nl, "bands": nb, "dtype": out_dt,
            "scale": float(pix.get("Multiplier", 1.0)),
            "add_offset": float(pix.get("Base", 0.0)),
            "nodata": null_val, "format": fmt, "label": lbl}

    if fmt == "TILE":
        tl = int(core["TileLines"])
        tsamp = int(core["TileSamples"])
        if tl != tsamp:
            raise ValueError("non-square ISIS3 tiles unsupported")
        ntx, nty = -(-ns // tsamp), -(-nl // tl)
        tilebytes = tl * tsamp * item
        jobs = [(b + 1, tx, ty,
                 start + ((b * nty + ty) * ntx + tx) * tilebytes)
                for b in range(nb) for ty in range(nty)
                for tx in range(ntx)]
        sdf = spark.createDataFrame(
            jobs, "band int, tx long, ty long, off long")

        def decode(s):
            raw = vsi.pread(data_path, s.off, tilebytes)
            arr = np.frombuffer(raw.ljust(tilebytes, b"\0"), dtype=dt)
            return plane_tiles(arr.reshape(tl, tsamp), s.band, s.tx, s.ty,
                               tsamp, out_dt, null_val)

        meta["tile"] = tsamp
        return tiles_from_tasks(sdf, decode), meta

    from .rawraster import _plan_and_read
    tiles = _plan_and_read(
        spark, data_path, samples=ns, lines=nl, bands=nb,
        dtype=dt_code, interleave="bsq", offset=start,
        byte_order=0 if order == "<" else 1, nodata=null_val, tile=256)
    meta["tile"] = 256
    return tiles, meta


def write_isis3(tiles, path: str, *, samples: int, lines: int,
                dtype: str = "i2", tile: int = 256,
                base: float = 0.0, multiplier: float = 1.0) -> None:
    """Tile table -> one Format=Tile .cub. The engine's tile table IS
    the ISIS3 tile layout, so every task pwrites its tile verbatim at
    the closed-form offset start + (ty*ntx + tx)*tilebytes — the most
    direct distributed sink in the repo (no re-striping at all).
    Label pads to the classic 64 KiB StartByte=65537 data origin."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql import types as T

    name = {"u1": "UnsignedByte", "i2": "SignedWord",
            "f4": "Real"}[dtype]
    item = np.dtype(dtype).itemsize
    ntx, nty = -(-samples // tile), -(-lines // tile)
    start = 65536
    tilebytes = tile * tile * item
    lbl = f"""Object = IsisCube
  Object = Core
    StartByte   = {start + 1}
    Format      = Tile
    TileSamples = {tile}
    TileLines   = {tile}

    Group = Dimensions
      Samples = {samples}
      Lines   = {lines}
      Bands   = 1
    End_Group

    Group = Pixels
      Type       = {name}
      ByteOrder  = Lsb
      Base       = {base!r}
      Multiplier = {multiplier!r}
    End_Group
  End_Object
End_Object
End
"""
    if len(lbl) > start:
        raise ValueError("label exceeds the 64 KiB header area")
    with open(path, "wb") as f:
        f.write(lbl.encode("ascii"))
        f.truncate(start + ntx * nty * tilebytes)

    out_schema = T.StructType([T.StructField("tx", T.LongType()),
                               T.StructField("ty", T.LongType())])

    def emit(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        from ..raster.tiles import decode_px
        # pdf.iloc[0].dtype would hit the pandas Series attribute, not
        # the column — index the columns explicitly
        arr = decode_px(pdf["px"].iloc[0], pdf["dtype"].iloc[0],
                        tile).astype(dtype)
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, arr.tobytes(),
                      start + (ty * ntx + tx) * tilebytes)
        finally:
            os.close(fd)
        return pd.DataFrame({"tx": [tx], "ty": [ty]})

    tiles.where("band = 1").groupBy("tile_x", "tile_y") \
        .applyInPandas(emit, out_schema).collect()
