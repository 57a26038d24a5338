"""Zarr v2 source/sink — twin of the reference's Zarr driver
(frmts/zarr/zarrv2array.cpp chunk naming + .zarray metadata;
frmts/zarr/zarr_array.cpp decode): a chunked 2-D array as one file per
chunk ("row.col", C order, optional zlib codec) plus a driver-side
`.zarray` JSON. The chunk grid IS the engine's tile grid, so the store
maps 1:1 onto the tile table — the sink is one task per tile writing its
own chunk (no driver pixel I/O), the reader plans (chunk, file) tasks
from the metadata alone. Missing chunk files read as fill_value, the
format's sparse-store semantics."""

from __future__ import annotations

import gzip
import json
import os
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core import vsi
from ..raster.tiles import (decode_px, encode_px, plane_tiles,
                            tiles_from_tasks)

_SEP = "."


def write_zarr(tiles_df: DataFrame, path: str, width: int, height: int,
               tile: int = 256, compressor: str | None = "zlib",
               level: int = 6, fill_value: float = 0.0,
               band: int = 1) -> None:
    """Write one band of the tile table as a Zarr v2 array directory."""
    os.makedirs(path, exist_ok=True)
    rows = tiles_df.where(f"band = {band}").select(
        "tile_x", "tile_y", "dtype", "px")
    first = rows.first()
    if first is None:
        raise ValueError(f"no tiles for band {band}")
    np_dtype = np.dtype(first.dtype)
    meta = {
        "zarr_format": 2,
        "shape": [height, width],
        "chunks": [tile, tile],
        "dtype": np_dtype.newbyteorder("<").str,
        "compressor": ({"id": "zlib", "level": level}
                       if compressor == "zlib" else None),
        "fill_value": fill_value,
        "order": "C",
        "filters": None,
        "dimension_separator": _SEP,
    }
    with open(os.path.join(path, ".zarray"), "w") as f:
        json.dump(meta, f)

    def emit(batches):
        n = 0
        for pdf in batches:
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, tile)
                buf = np.ascontiguousarray(
                    arr.astype(np_dtype.newbyteorder("<"))).tobytes()
                if compressor == "zlib":
                    buf = zlib.compress(buf, level)
                name = f"{int(r.tile_y)}{_SEP}{int(r.tile_x)}"
                with open(os.path.join(path, name), "wb") as f:
                    f.write(buf)
                n += 1
        yield pd.DataFrame({"n": [n]})

    import pyspark.sql.types as T
    rows.mapInPandas(emit, T.StructType(
        [T.StructField("n", T.LongType())])).collect()


def read_zarr_metadata(path: str) -> dict:
    return json.loads(vsi.read_all(os.path.join(path, ".zarray")))


def _read_chunk(file: str, comp: str | None, dtype: np.dtype, shape,
                fill, out_dt) -> np.ndarray:
    """One chunk file -> `shape` array of `out_dt`; a chunk absent on
    disk reads as fill_value (the sparse-store rule)."""
    try:
        buf = vsi.read_all(file)
    except FileNotFoundError:
        return np.full(shape, fill, out_dt)
    if comp == "gzip":
        buf = gzip.decompress(buf)
    elif comp == "zlib":
        buf = zlib.decompress(buf)
    return np.frombuffer(buf, dtype=dtype).reshape(shape).astype(out_dt)


# -- Zarr v3 (frmts/zarr/zarrv3array.cpp: zarr.json metadata, "c/"
# -- default chunk-key prefix, named codecs) ---------------------------------

def read_zarr3_metadata(array_dir: str) -> dict:
    """One v3 array node's zarr.json -> normalized dict (shape, chunks,
    dtype incl. the bytes-codec endian, fill_value, compressor name,
    chunk key encoding)."""
    zj = json.loads(vsi.read_all(os.path.join(array_dir, "zarr.json")))
    if zj.get("zarr_format") != 3 or zj.get("node_type") != "array":
        raise ValueError(f"{array_dir}: not a zarr v3 array node")
    endian = "<"
    comp = None
    for codec in zj.get("codecs", []):
        name = codec.get("name")
        cfg = codec.get("configuration", {})
        if name == "bytes":
            endian = "<" if cfg.get("endian", "little") == "little" \
                else ">"
        elif name in ("gzip", "zlib"):
            comp = name
        else:
            raise ValueError(f"unsupported zarr v3 codec {name!r}")
    cke = zj.get("chunk_key_encoding", {"name": "default"})
    return {"shape": [int(s) for s in zj["shape"]],
            "chunks": [int(c) for c in
                       zj["chunk_grid"]["configuration"]["chunk_shape"]],
            "dtype": np.dtype(zj["data_type"]).newbyteorder(endian),
            "fill_value": zj.get("fill_value", 0),
            "compressor": comp,
            "key_name": cke.get("name", "default"),
            "key_sep": cke.get("configuration", {}).get(
                "separator", "/" if cke.get("name", "default")
                == "default" else "."),
            "dimension_names": zj.get("dimension_names"),
            "attributes": zj.get("attributes", {})}


def _read_zarr3_coord(group_dir: str, name: str):
    """1-D coordinate array values (tiny, driver-side) or None."""
    try:
        adir = os.path.join(group_dir, name)
        m = read_zarr3_metadata(adir)
        if len(m["shape"]) != 1:
            return None
        buf = vsi.read_all(zarr3_chunk_path(adir, m["key_name"],
                                            m["key_sep"], (0,)))
        if m["compressor"] == "gzip":
            buf = gzip.decompress(buf)
        elif m["compressor"] == "zlib":
            buf = zlib.decompress(buf)
        return np.frombuffer(buf, m["dtype"])[:m["shape"][0]]
    except (OSError, ValueError, KeyError):
        return None


def zarr3_chunk_path(array_dir: str, key_name: str, sep: str,
                     idx: tuple) -> str:
    """v3 chunk key -> file path ("c/0/0" default, "0.0" v2 style)."""
    if key_name == "default":
        return os.path.join(array_dir, "c" + sep
                            + sep.join(str(i) for i in idx)) \
            if sep != "/" else os.path.join(array_dir, "c",
                                            *[str(i) for i in idx])
    return os.path.join(array_dir, sep.join(str(i) for i in idx))


def list_zarr3_arrays(store: str) -> dict:
    """Walk a v3 group store -> {'/full/name': array_dir}."""
    out = {}
    for root, _dirs, files in os.walk(store):
        if "zarr.json" not in files:
            continue
        zj = json.loads(vsi.read_all(os.path.join(root, "zarr.json")))
        if zj.get("node_type") != "array":
            continue
        rel = os.path.relpath(root, store)
        out["/" + ("" if rel == "." else rel.replace(os.sep, "/"))
            .strip("/")] = root
    return out


def _read_zarr3(spark: SparkSession, path: str, band: int = 1,
                array: str | None = None):
    """v3 store or array dir -> (tile table, meta). Group stores pick
    the named array (or the largest rank>=2 one, the reference's
    classic-open subdataset heuristic)."""
    if not vsi.exists(os.path.join(path, "zarr.json")):
        raise ValueError(f"{path}: no zarr.json")
    node = json.loads(vsi.read_all(os.path.join(path, "zarr.json")))
    adir = path
    if node.get("node_type") == "group":
        arrays = list_zarr3_arrays(path)
        if array is not None:
            adir = arrays[array if array.startswith("/")
                          else "/" + array]
        else:
            two_d = {k: v for k, v in arrays.items()
                     if len(read_zarr3_metadata(v)["shape"]) >= 2}
            pick = two_d or arrays
            if not pick:
                raise ValueError(f"{path}: no arrays in store")
            adir = max(pick.values(), key=lambda d: int(np.prod(
                read_zarr3_metadata(d)["shape"])))
    m = read_zarr3_metadata(adir)
    shape, chunks = m["shape"], m["chunks"]
    if len(shape) == 1:                      # 1-D arrays -> (1, n)
        shape = [1] + shape
        chunks = [1] + chunks
        pad1d = True
    else:
        pad1d = False
    if len(shape) != 2:
        raise ValueError("2-D (or 1-D) v3 arrays only in the classic "
                         "read; use the multidim API for rank > 2")
    h, w = shape
    ch, cw = chunks
    single_chunk = ch >= h and cw >= w
    if ch != cw and not (pad1d or single_chunk):
        raise ValueError("non-square chunks unsupported")
    ct = max(ch, cw)
    # CF row order: when the store's y coordinate ascends (bottom-up
    # grid), the reference flips rows on read (zarr_array.cpp's CF
    # handling); geotransform comes from the x/y coordinate spacing
    flip = False
    gt = None
    dims = m.get("dimension_names")
    if adir != path and dims and len(dims) >= 2:
        yv = _read_zarr3_coord(path, dims[-2])
        xv = _read_zarr3_coord(path, dims[-1])
        if yv is not None and len(yv) >= 2:
            flip = bool(yv[1] > yv[0])
            if flip and h % ch:
                raise ValueError("CF bottom-up store with non-aligned "
                                 "chunk rows unsupported")
        if yv is not None and xv is not None and len(yv) >= 2 \
                and len(xv) >= 2:
            dx = float(xv[1] - xv[0])
            dy = float(abs(yv[1] - yv[0]))
            ytop = float(max(yv[0], yv[-1]))
            gt = (float(xv[0]) - dx / 2.0, dx, 0.0,
                  ytop + dy / 2.0, 0.0, -dy)
    nty = -(-h // ch)
    np_dtype = m["dtype"]
    fill = m["fill_value"]
    if fill in ("NaN", None):
        fill = float("nan") if np_dtype.kind == "f" else 0
    comp = m["compressor"]
    key_name, sep = m["key_name"], m["key_sep"]
    work = []
    for ty in range(-(-h // ch)):
        for tx in range(-(-w // cw)):
            idx = (tx,) if pad1d else (ty, tx)
            work.append((ty, tx, zarr3_chunk_path(adir, key_name, sep,
                                                  idx)))
    wdf = spark.createDataFrame(
        pd.DataFrame(work, columns=["ty", "tx", "file"]))
    dtype_name = np_dtype.newbyteorder("=").name

    def decode(s):
        arr = _read_chunk(s.file, comp, np_dtype, (ch, cw), fill,
                          dtype_name)
        if flip:
            return plane_tiles(arr[::-1], band, s.tx, nty - 1 - s.ty, ct,
                               dtype_name)
        return plane_tiles(arr, band, s.tx, s.ty, ct, dtype_name)

    n_parts = max(1, min(len(work), 64))
    meta = {"shape": [h, w], "chunks": [ct, ct], "zarr_format": 3,
            "dtype": str(np_dtype), "fill_value": m["fill_value"],
            "attributes": m["attributes"], "flipped_y": flip,
            "geotransform": gt}
    return tiles_from_tasks(wdf.repartition(n_parts), decode), meta


def read_zarr(spark: SparkSession, path: str, band: int = 1,
              array: str | None = None) -> DataFrame:
    """-> (tile table, metadata). One task batch per chunk; chunks absent
    on disk materialize as fill_value tiles (sparse-store reads).
    Dispatches on store version: .zarray = v2, zarr.json = v3."""
    if not vsi.exists(os.path.join(path, ".zarray")) and \
            vsi.exists(os.path.join(path, "zarr.json")):
        return _read_zarr3(spark, path, band=band, array=array)
    meta = read_zarr_metadata(path)
    h, w = meta["shape"]
    ct, ctx = meta["chunks"]
    if ct != ctx:
        raise ValueError("non-square chunks unsupported")
    sep = meta.get("dimension_separator", ".")
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") != "zlib":
        raise ValueError(f"unsupported compressor {comp.get('id')!r}")
    np_dtype = np.dtype(meta["dtype"])
    fill = meta.get("fill_value", 0.0)
    n_ty = -(-h // ct)
    n_tx = -(-w // ct)
    work = [(ty, tx, os.path.join(path, f"{ty}{sep}{tx}"))
            for ty in range(n_ty) for tx in range(n_tx)]
    wdf = spark.createDataFrame(
        pd.DataFrame(work, columns=["ty", "tx", "file"]))

    dtype_name = np_dtype.newbyteorder("=").name

    def decode(s):
        arr = _read_chunk(s.file, "zlib" if comp else None, np_dtype,
                          (ct, ct), fill, dtype_name)
        return plane_tiles(arr, band, s.tx, s.ty, ct, dtype_name)

    n_parts = max(1, min(len(work), 64))
    return tiles_from_tasks(wdf.repartition(n_parts), decode), meta


def read_zarr_multidim(spark: SparkSession, path: str):
    """Rank-3/4 zarr v2 array -> the long-format multidim table
    (array, d0, d1, tile_x, tile_y, dtype, px) — the GDALMDArray view
    (gcore/gdalmultidim.cpp) also exposed for HDF5: one engine tile
    grid per leading-index slice, engine tile = the zarr chunk's
    trailing 2-D footprint (chunks ARE the parallel unit; absent
    chunk files materialize as fill_value).  Chunk lead dims > 1 slice
    one decode across their combos."""
    from .hdf5 import MD_SCHEMA

    meta = read_zarr_metadata(path)
    shape = [int(s) for s in meta["shape"]]
    if not 3 <= len(shape) <= 4:
        raise ValueError("read_zarr_multidim expects rank 3 or 4")
    cd = [int(c) for c in meta["chunks"]]
    if cd[-1] != cd[-2]:
        raise ValueError("non-square trailing chunks unsupported")
    sep = meta.get("dimension_separator", ".")
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") != "zlib":
        raise ValueError(f"unsupported compressor {comp.get('id')!r}")
    np_dtype = np.dtype(meta["dtype"])
    fill = meta.get("fill_value", 0.0)
    order = meta.get("order", "C")
    if order != "C":
        raise ValueError("F-order zarr unsupported")
    grid = [-(-s // c) for s, c in zip(shape, cd)]
    name = os.path.basename(path.rstrip("/"))
    work = []
    idxs = [()]
    for g in grid:
        idxs = [i + (k,) for i in idxs for k in range(g)]
    for ci in idxs:
        work.append((list(ci), os.path.join(
            path, sep.join(str(k) for k in ci))))
    wdf = spark.createDataFrame(
        pd.DataFrame(work, columns=["ci", "file"]))
    nlead = len(shape) - 2
    ct = cd[-1]
    cols = [f.name for f in MD_SCHEMA.fields]

    def read_task(batches):
        for pdf in batches:
            out = []
            for ci, file in pdf.itertuples(index=False):
                ci = [int(k) for k in ci]
                blk = _read_chunk(file, "zlib" if comp else None,
                                  np_dtype, cd, fill, np.float64)
                # each lead combo inside this chunk emits one tile
                lead_ranges = [range(ci[a] * cd[a],
                                     min((ci[a] + 1) * cd[a],
                                         shape[a]))
                               for a in range(nlead)]
                combos = [()]
                for rg in lead_ranges:
                    combos = [c + (i,) for c in combos for i in rg]
                for combo in combos:
                    sl = blk
                    for a, gi in enumerate(combo):
                        sl = np.take(sl, gi - ci[a] * cd[a], axis=0)
                    d0 = combo[0] if nlead >= 1 else None
                    d1 = combo[1] if nlead >= 2 else None
                    out.append((name, d0, d1, ci[-1], ci[-2],
                                "float64",
                                encode_px(np.ascontiguousarray(sl))))
            yield (pd.DataFrame(out, columns=cols) if out
                   else pd.DataFrame(columns=cols))

    n_parts = max(1, min(len(work), 64))
    return wdf.repartition(n_parts).mapInPandas(read_task, MD_SCHEMA), meta


def write_zarr_nd(arr, path: str, chunks=None) -> None:
    """N-D fixture writer (zarr v2, zlib, C order)."""
    arr = np.ascontiguousarray(arr)
    cd = list(chunks) if chunks else [1] * (arr.ndim - 2) + \
        [arr.shape[-2], arr.shape[-1]]
    os.makedirs(path, exist_ok=True)
    meta = {"zarr_format": 2, "shape": list(arr.shape), "chunks": cd,
            "dtype": arr.dtype.str, "compressor": {"id": "zlib",
                                                   "level": 6},
            "fill_value": 0, "order": "C", "filters": None}
    with open(os.path.join(path, ".zarray"), "w") as f:
        json.dump(meta, f)
    grid = [-(-s // c) for s, c in zip(arr.shape, cd)]
    idxs = [()]
    for g in grid:
        idxs = [i + (k,) for i in idxs for k in range(g)]
    for ci in idxs:
        blk = np.zeros(cd, arr.dtype)
        sl = tuple(slice(ci[a] * cd[a], min((ci[a] + 1) * cd[a],
                                            arr.shape[a]))
                   for a in range(arr.ndim))
        sub = arr[sl]
        blk[tuple(slice(0, s) for s in sub.shape)] = sub
        with open(os.path.join(path,
                               ".".join(str(k) for k in ci)), "wb") as f:
            f.write(zlib.compress(blk.tobytes()))
