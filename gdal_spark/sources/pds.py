"""NASA PDS3 planetary raster source (frmts/pds/pdsdataset.cpp).

ODL label (attached or detached .LBL) describing a raw raster: the
parser handles /* */ comments, quoted/grouped multi-line values, nested
OBJECT/END_OBJECT blocks, and the ^IMAGE pointer forms the reference
resolves (GDALDataset::Open in pdsdataset.cpp ParseImage):

    ^IMAGE = "FILE.IMG"            detached, offset 0
    ^IMAGE = ("FILE.IMG", 10)      detached, records (1-based)
    ^IMAGE = ("FILE.IMG", 10 <BYTES>)  detached, bytes (1-based)
    ^IMAGE = 123                   attached, records
    ^IMAGE = 123 <BYTES>           attached, bytes

Pixel layout maps straight onto the shared raw-strip reader
(rawraster._plan_and_read): SAMPLE_TYPE x SAMPLE_BITS -> dtype + byte
order, BAND_STORAGE_TYPE -> bsq/bil/bip, MISSING_CONSTANT -> nodata.
SCALING_FACTOR/OFFSET surface in meta (the reference exposes them as
band scale/offset). Pinned against the reference autotest fixture
LDEM_4.LBL (checksum 50938 over the (0,0,1440,2) window —
autotest/gdrivers/pds.py:173).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from ..core import vsi
from .rawraster import _plan_and_read

_STYPES = {
    ("LSB_INTEGER", True): "<i", ("MSB_INTEGER", True): ">i",
    ("LSB_UNSIGNED_INTEGER", True): "<u",
    ("MSB_UNSIGNED_INTEGER", True): ">u",
    ("UNSIGNED_INTEGER", True): ">u",      # PDS default order is MSB
    ("INTEGER", True): ">i",
    ("PC_REAL", True): "<f", ("IEEE_REAL", True): ">f",
    ("FLOAT", True): ">f", ("REAL", True): ">f",
}


def _strip_comments(text: str) -> str:
    return re.sub(r"/\*.*?\*/", "", text, flags=re.S)


def _parse_value(v: str):
    v = v.strip()
    if v.startswith('"') and v.endswith('"'):
        return v[1:-1]
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        pass
    return v


def parse_odl(text: str) -> dict:
    """ODL label -> nested dict; OBJECT blocks become sub-dicts keyed by
    the object name (first of each name wins, matching the reference's
    single-image assumption)."""
    text = _strip_comments(text)
    lines = text.split("\n")
    # join continuation lines: a value continues while quotes/parens
    # are unbalanced
    recs = []
    buf = ""
    for ln in lines:
        buf = (buf + "\n" + ln) if buf else ln
        q = buf.count('"') % 2
        bal = (buf.count("(") - buf.count(")")
               + buf.count("{") - buf.count("}"))
        if q == 0 and bal <= 0:
            recs.append(buf)
            buf = ""
    if buf.strip():
        recs.append(buf)

    root: dict = {}
    stack = [root]
    for rec in recs:
        if "=" not in rec:
            if rec.strip() == "END":
                break
            continue
        key, val = rec.split("=", 1)
        key = key.strip()
        val = " ".join(val.split())
        if key == "OBJECT":
            sub: dict = {}
            stack[-1].setdefault(val.strip(), sub)
            stack.append(sub)
        elif key == "END_OBJECT":
            if len(stack) > 1:
                stack.pop()
        elif key == "END":
            break
        else:
            stack[-1][key] = _parse_value(val)
    return root


def _resolve_pointer(ptr, label_path: str, record_bytes: int):
    """^IMAGE value -> (data_path, byte_offset)."""
    base = os.path.dirname(label_path)

    def find_file(name: str) -> str:
        for cand in (name, name.lower(), name.upper()):
            p = os.path.join(base, cand)
            if os.path.exists(p):
                return p
        return os.path.join(base, name)

    if isinstance(ptr, int):
        return label_path, (ptr - 1) * record_bytes
    s = str(ptr).strip()
    m = re.match(r'^\(\s*"([^"]+)"\s*,\s*(\d+)\s*(<BYTES>)?\s*\)$', s)
    if m:
        n = int(m.group(2))
        off = (n - 1) if m.group(3) else (n - 1) * record_bytes
        return find_file(m.group(1)), off
    m = re.match(r"^(\d+)\s*<BYTES>$", s)
    if m:
        return label_path, int(m.group(1)) - 1
    if s.startswith('"') and s.endswith('"'):
        s = s[1:-1]
    return find_file(s), 0


def read_pds(spark: SparkSession, path: str, tile: int = 256):
    """.LBL / attached-label .IMG -> (tile table, meta)."""
    label = parse_odl(vsi.pread(path, 0, 1 << 20)
                      .decode("ascii", errors="replace"))
    if str(label.get("PDS_VERSION_ID", "")).upper() not in ("PDS3", "PDS"):
        raise ValueError("not a PDS3 label")
    img = label.get("IMAGE")
    if img is None:
        for sub in label.values():
            if isinstance(sub, dict) and "IMAGE" in sub:
                img = sub["IMAGE"]
                break
    if img is None:
        raise ValueError("PDS label has no IMAGE object")
    record_bytes = int(label.get("RECORD_BYTES", 0) or 0)
    ptr = label.get("^IMAGE")
    for sub in label.values():          # pointer may sit in a FILE object
        if ptr is None and isinstance(sub, dict):
            ptr = sub.get("^IMAGE")
            record_bytes = int(sub.get("RECORD_BYTES", record_bytes)
                               or record_bytes)
    data_path, offset = _resolve_pointer(ptr, path, record_bytes)

    lines = int(img["LINES"])
    samples = int(img["LINE_SAMPLES"])
    bits = int(img.get("SAMPLE_BITS", 8))
    stype = str(img.get("SAMPLE_TYPE", "UNSIGNED_INTEGER")).upper() \
        .strip('"')
    bands = int(img.get("BANDS", 1))
    storage = str(img.get("BAND_STORAGE_TYPE",
                          "BAND SEQUENTIAL")).upper()
    inter = ("bil" if "LINE_INTERLEAVED" in storage
             else "bip" if "SAMPLE_INTERLEAVED" in storage else "bsq")
    code = _STYPES.get((stype, True))
    if code is None:
        raise ValueError(f"unsupported SAMPLE_TYPE {stype!r}")
    dtype = f"{code[1]}{bits // 8}"            # plain numpy kind+size
    nodata = img.get("MISSING_CONSTANT", img.get("CORE_NULL"))
    nodata = float(nodata) if isinstance(nodata, (int, float)) else None

    byte_order = 1 if code[0] == ">" else 0    # ENVI convention: 1 = MSB
    tiles = _plan_and_read(
        spark, data_path, samples=samples, lines=lines, bands=bands,
        dtype=dtype, interleave=inter, offset=offset,
        byte_order=byte_order, nodata=nodata, tile=tile)
    meta = {"width": samples, "height": lines, "bands": bands,
            "dtype": dtype, "offset_bytes": offset,
            "scale": float(img.get("SCALING_FACTOR", 1.0)),
            "add_offset": float(img.get("OFFSET", 0.0)),
            "nodata": nodata, "label": label}
    return tiles, meta


_WTYPES = {"i2": ("LSB_INTEGER", 16), "i4": ("LSB_INTEGER", 32),
           "u1": ("UNSIGNED_INTEGER", 8), "u2": ("LSB_UNSIGNED_INTEGER", 16),
           "f4": ("PC_REAL", 32), "f8": ("PC_REAL", 64)}


def write_pds(tiles, path: str, *, samples: int, lines: int,
              dtype: str = "i2", tile: int = 256,
              scale: float = 1.0, add_offset: float = 0.0,
              nodata: float | None = None,
              product_id: str = "GDAL_SPARK") -> None:
    """Tile table -> detached PDS3 label (.LBL) + raw .IMG, pixels
    written through the same parallel strip sink as ENVI (the .IMG is
    plain little-endian BSQ; the label records SAMPLE_TYPE/BITS to
    match). One band."""
    import numpy as np

    from .rawraster import write_envi

    stem = os.path.splitext(path)[0]
    lbl_path = stem + ".LBL"
    img_path = stem + ".IMG"
    stype, bits = _WTYPES[dtype]
    item = np.dtype(dtype).itemsize
    rec_bytes = samples * item
    lbl = [
        'PDS_VERSION_ID            = "PDS3"',
        'RECORD_TYPE               = FIXED_LENGTH',
        f'RECORD_BYTES              = {rec_bytes}',
        f'FILE_RECORDS              = {lines}',
        f'PRODUCT_ID                = "{product_id}"',
        f'^IMAGE                    = "{os.path.basename(img_path)}"',
        'OBJECT                    = IMAGE',
        f'    LINES                 = {lines}',
        f'    LINE_SAMPLES          = {samples}',
        f'    SAMPLE_TYPE           = {stype}',
        f'    SAMPLE_BITS           = {bits}',
        f'    SCALING_FACTOR        = {scale!r}',
        f'    OFFSET                = {add_offset!r}',
    ]
    if nodata is not None:
        lbl.append(f'    MISSING_CONSTANT      = {nodata!r}')
    lbl += ['END_OBJECT                = IMAGE', 'END', '']
    with open(lbl_path, "w") as f:
        f.write("\n".join(lbl))
    # the ENVI emitter writes the flat BSQ payload; drop its .hdr sidecar
    write_envi(tiles, img_path, samples=samples, lines=lines, bands=1,
               dtype=dtype, tile=tile, nodata=nodata)
    hdr_side = os.path.splitext(img_path)[0] + ".hdr"
    if os.path.exists(hdr_side):
        os.remove(hdr_side)


def read_isis2(spark: SparkSession, path: str, tile: int = 256):
    """ISIS2 cube (frmts/pds/isis2dataset.cpp): ODL label with a ^QUBE
    record pointer; CORE_ITEMS = (samples, lines, bands) in AXIS_NAME
    order (SAMPLE,LINE,BAND -> BSQ; SAMPLE,BAND,LINE -> BIL),
    CORE_ITEM_TYPE SUN_*/PC_* x CORE_ITEM_BYTES -> dtype. Pinned to the
    autotest arvidson_original_truncated.cub checksum 382 (truncated
    payload zero-fills, like the reference's partial read)."""
    label = parse_odl(vsi.pread(path, 0, 1 << 20)
                      .decode("ascii", errors="replace"))
    qube = label.get("QUBE")
    if qube is None:
        raise ValueError("not an ISIS2 cube (no QUBE object)")
    record_bytes = int(label.get("RECORD_BYTES", 512))
    ptr = label.get("^QUBE", 1)
    data_path, offset = _resolve_pointer(ptr, path, record_bytes)

    items = [int(x) for x in re.findall(
        r"\d+", str(qube["CORE_ITEMS"]))]
    axes = re.findall(r"[A-Z]+", str(qube.get(
        "AXIS_NAME", "(SAMPLE,LINE,BAND)")).upper())
    dims = dict(zip(axes, items))
    ns, nl, nb = dims.get("SAMPLE", 1), dims.get("LINE", 1), \
        dims.get("BAND", 1)
    inter = "bil" if axes[:3] == ["SAMPLE", "BAND", "LINE"] else "bsq"
    nbytes = int(qube.get("CORE_ITEM_BYTES", 1))
    ctype = str(qube.get("CORE_ITEM_TYPE", "UNSIGNED_INTEGER")).upper()
    big = ctype.startswith(("SUN", "MSB"))
    kind = "f" if "REAL" in ctype else (
        "u" if "UNSIGNED" in ctype or nbytes == 1 else "i")
    suffix = [int(x) for x in re.findall(
        r"\d+", str(qube.get("SUFFIX_ITEMS", "(0,0,0)")))]
    if any(suffix):
        raise ValueError("ISIS2 suffix planes unsupported")
    tiles = _plan_and_read(
        spark, data_path, samples=ns, lines=nl, bands=nb,
        dtype=f"{kind}{nbytes}", interleave=inter, offset=offset,
        byte_order=1 if big else 0, nodata=None, tile=tile)
    meta = {"width": ns, "height": nl, "bands": nb,
            "dtype": f"{kind}{nbytes}",
            "scale": float(qube.get("CORE_MULTIPLIER", 1.0)),
            "add_offset": float(qube.get("CORE_BASE", 0.0)),
            "label": label}
    return tiles, meta
