"""VICAR raster source (frmts/vicar/vicardataset.cpp — the JPL/MIPL
format planetary missions archive in; labels like
``LBLSIZE=364 FORMAT='BYTE' ORG='BSQ' NL=3 NS=4 NB=1 ...``).

Label: space-separated KEY=VALUE pairs inside the first LBLSIZE bytes
(values: bare tokens, ''-escaped quoted strings, parenthesized lists).
Pixels: fixed RECSIZE records after LBLSIZE + NLB binary-header records,
each record an optional NBB-byte binary prefix + samples; ORG selects
BSQ (record = line of one band), BIL (record = one band of one line) or
BIP (record = line with samples interleaved). FORMAT x INTFMT/REALFMT
maps to dtype — including VAX F/D floats, decoded vectorized with the
same word-swapped hidden-0.1 semantics as port/cpl_vax.cpp (the D codec
matches sources/dgn.py vax_to_double bit for bit).

Read is strip-parallel like BMP (per-row closed-form offsets, stride =
RECSIZE); pinned against the reference autotest checksum table
(autotest/gdrivers/vicar.py:103-117) across byte/int16/int32/float32
bsq+bil+bip/float64/big-endian/VAX fixtures.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import SparkSession

from ..core import vsi
from ..raster.tiles import plane_tiles, tiles_from_tasks


def _tokenize(label: str):
    """KEY=VALUE pairs; quoted values use '' to escape a quote."""
    i = 0
    n = len(label)
    while i < n:
        m = re.match(r"\s*([A-Za-z0-9_]+)=", label[i:])
        if not m:
            break
        key = m.group(1)
        i += m.end()
        if i < n and label[i] == "'":
            j = i + 1
            val = []
            while j < n:
                if label[j] == "'":
                    if j + 1 < n and label[j + 1] == "'":
                        val.append("'")
                        j += 2
                        continue
                    break
                val.append(label[j])
                j += 1
            yield key, "".join(val)
            i = j + 1
        elif i < n and label[i] == "(":
            j = label.index(")", i)
            yield key, label[i:j + 1]
            i = j + 1
        else:
            m = re.match(r"[^\s]+", label[i:])
            yield key, m.group(0) if m else ""
            i += m.end() if m else 0


def parse_vicar_label(path: str) -> dict:
    m = re.match(rb"LBLSIZE=(\d+)", vsi.pread(path, 0, 64))
    if not m:
        raise ValueError("not a VICAR file (no LBLSIZE)")
    lblsize = int(m.group(1))
    label = vsi.pread(path, 0, lblsize).decode("ascii", errors="replace")
    out = {}
    for k, v in _tokenize(label):
        try:
            out[k] = int(v)
        except ValueError:
            try:
                out[k] = float(v)
            except ValueError:
                out[k] = v
    out["LBLSIZE"] = lblsize
    return out


def _vax_f_decode(raw_u4: np.ndarray) -> np.ndarray:
    """VAX F-float (word-swapped, hidden 0.1, bias 128) -> float32."""
    v = (((raw_u4.astype(np.uint64) & 0xFFFF) << 16)
         | (raw_u4.astype(np.uint64) >> 16))
    e = ((v >> 23) & 0xFF).astype(np.float64)
    m = (v & 0x7FFFFF).astype(np.float64)
    s = np.where((v >> 31) & 1, -1.0, 1.0)
    out = s * (0.5 + m / float(1 << 24)) * np.exp2(e - 128.0)
    return np.where(e == 0, 0.0, out).astype(np.float32)


def _vax_d_decode(raw_u8: np.ndarray) -> np.ndarray:
    """VAX D-float -> float64 (same semantics as dgn.vax_to_double)."""
    r = raw_u8.astype(np.uint64)
    v = (((r & 0xFFFF) << 48) | (((r >> 16) & 0xFFFF) << 32)
         | (((r >> 32) & 0xFFFF) << 16) | (r >> 48))
    e = ((v >> 55) & 0xFF).astype(np.float64)
    m = (v & np.uint64(0x7FFFFFFFFFFFFF)).astype(np.float64)
    s = np.where((v >> 63) & 1, -1.0, 1.0)
    out = s * (0.5 + m / float(1 << 56)) * np.exp2(e - 128.0)
    return np.where(e == 0, 0.0, out)


def read_vicar(spark: SparkSession, path: str, tile: int = 256):
    """.vic -> (tile table, meta). BYTE/HALF/FULL/REAL/DOUB formats,
    BSQ/BIL/BIP, big/little INTFMT, RIEEE/IEEE/VAX REALFMT, NBB binary
    prefixes and NLB binary headers skipped like the reference."""
    lbl = parse_vicar_label(path)
    nl, ns, nb = int(lbl["NL"]), int(lbl["NS"]), int(lbl.get("NB", 1))
    fmt = str(lbl.get("FORMAT", "BYTE")).upper()
    org = str(lbl.get("ORG", "BSQ")).upper()
    intfmt = str(lbl.get("INTFMT", "LOW")).upper()
    realfmt = str(lbl.get("REALFMT", "RIEEE")).upper()
    recsize = int(lbl["RECSIZE"])
    nbb = int(lbl.get("NBB", 0))
    nlb = int(lbl.get("NLB", 0))
    offset = lbl["LBLSIZE"] + nlb * recsize

    vax = False
    if fmt == "BYTE":
        dt = np.dtype("u1")
    elif fmt in ("HALF", "WORD"):
        dt = np.dtype(("<" if intfmt == "LOW" else ">") + "i2")
    elif fmt in ("FULL", "LONG"):
        dt = np.dtype(("<" if intfmt == "LOW" else ">") + "i4")
    elif fmt == "REAL":
        if realfmt == "VAX":
            dt, vax = np.dtype("<u4"), True
        else:
            dt = np.dtype(("<" if realfmt == "RIEEE" else ">") + "f4")
    elif fmt == "DOUB":
        if realfmt == "VAX":
            dt, vax = np.dtype("<u8"), True
        else:
            dt = np.dtype(("<" if realfmt == "RIEEE" else ">") + "f8")
    else:
        raise ValueError(f"unsupported VICAR FORMAT {fmt!r}")
    if org not in ("BSQ", "BIL", "BIP"):
        raise ValueError(f"unsupported VICAR ORG {org!r}")
    item = dt.itemsize
    out_dt = ("f4" if fmt == "REAL" else "f8") if vax \
        else dt.newbyteorder("=").str.lstrip("<>=|")

    # BSQ tasks read one band's lines; BIL/BIP lines interleave every
    # band, so their tasks read all bands of the strip as one range
    strips = [(b + 1 if org == "BSQ" else 0, ty, ty * tile,
               min(nl, (ty + 1) * tile))
              for b in range(nb if org == "BSQ" else 1)
              for ty in range(-(-nl // tile))]
    sdf = spark.createDataFrame(strips, "band int, ty long, r0 long, r1 long")
    # records per line and payload bytes per record (after the NBB prefix)
    nrec, payload = {"BSQ": (1, ns * item), "BIL": (nb, ns * item),
                     "BIP": (ns, nb * item)}[org]

    def decode(s):
        n = s.r1 - s.r0
        first = (s.band - 1) * nl + s.r0 if org == "BSQ" else s.r0 * nrec
        size = n * nrec * recsize
        raw = vsi.pread(path, offset + first * recsize, size)
        recs = np.frombuffer(raw.ljust(size, b"\0"), "u1") \
            .reshape(n * nrec, recsize)       # truncated: zero-filled
        arr = np.ascontiguousarray(recs[:, nbb:nbb + payload]).view(dt)
        if vax:
            arr = (_vax_f_decode(arr) if fmt == "REAL"
                   else _vax_d_decode(arr))
        if org == "BSQ":
            planes = [(s.band, arr.reshape(n, ns))]
        elif org == "BIL":
            planes = [(b + 1, p) for b, p in enumerate(
                arr.reshape(n, nb, ns).transpose(1, 0, 2))]
        else:
            planes = [(b + 1, p) for b, p in enumerate(
                arr.reshape(n, ns, nb).transpose(2, 0, 1))]
        for b, plane in planes:
            yield from plane_tiles(plane, b, 0, s.ty, tile, out_dt)

    meta = {"width": ns, "height": nl, "bands": nb, "dtype": out_dt,
            "org": org, "label": lbl}
    return tiles_from_tasks(sdf, decode), meta


_WFMT = {"u1": ("BYTE", 1), "i2": ("HALF", 2), "i4": ("FULL", 4),
         "f4": ("REAL", 4), "f8": ("DOUB", 8)}


def write_vicar(tiles, path: str, *, samples: int, lines: int,
                dtype: str = "i2", tile: int = 256) -> None:
    """Tile table -> one .vic (BSQ, little-endian, no binary headers):
    ASCII label padded to a RECSIZE multiple (the format's invariant),
    payload written by the parallel ENVI strip sink at LBLSIZE offset
    ... re-laid as a plain flat BSQ, which IS the VICAR record layout
    when NBB=NLB=0."""
    import os

    from .rawraster import write_envi

    fmt, item = _WFMT[dtype]
    recsize = samples * item
    fields = (f"FORMAT='{fmt}'  TYPE='IMAGE'  BUFSIZ=20480  DIM=3  "
              f"RECSIZE={recsize}  ORG='BSQ'  NL={lines}  NS={samples}  "
              f"NB=1  N1={samples}  N2={lines}  N3=1  N4=0  NBB=0  "
              f"NLB=0  INTFMT='LOW'  REALFMT='RIEEE'  COMPRESS='NONE'  "
              f"EOL=0")
    # LBLSIZE includes itself; pad the label to a RECSIZE multiple
    lbl = ""
    size = 0
    for _ in range(4):
        base = f"LBLSIZE={size}             " + fields
        size = -(-len(base) // recsize) * recsize
        lbl = f"LBLSIZE={size}             " + fields
        if len(lbl) <= size:
            break
    lbl = lbl.ljust(size)
    tmp_payload = path + ".payload"
    write_envi(tiles, tmp_payload, samples=samples, lines=lines,
               bands=1, dtype=dtype, tile=tile)
    with open(path, "wb") as f:
        f.write(lbl.encode("ascii"))
        pos = 0
        while chunk := vsi.pread(tmp_payload, pos, 1 << 20):
            f.write(chunk)
            pos += len(chunk)
    os.remove(tmp_payload)
    hdr_side = os.path.splitext(tmp_payload)[0] + ".hdr"
    if os.path.exists(hdr_side):
        os.remove(hdr_side)
