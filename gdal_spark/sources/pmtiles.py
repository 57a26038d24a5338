"""PMTiles v3 archive source/sink — the single-file tile pyramid format.

Re-expresses the reference's PMTiles driver
(/root/reference/ogr/ogrsf_frmts/pmtiles/) Spark-first over the public
PMTiles v3 spec (protomaps/PMTiles spec/v3): a 127-byte little-endian
header, gzip'd varint directories (delta-coded Hilbert tile ids,
run lengths, lengths, offsets), gzip'd JSON metadata, then the tile
data section. Tile ids order the whole pyramid on a Hilbert curve:
id = (4^z - 1)/3 + hilbert_d(z, x, y).

Scale design:
  read — the DRIVER touches only the header + directories (KBs even for
  planet archives); every tile blob is fetched by executor tasks at the
  directory's (offset, length), gunzipped and decoded with the existing
  MVT codec. No driver pass over tile data.
  write — two-phase distributed single-file write, like the GeoTIFF/PNG
  sinks: phase 1 computes each tile's compressed length in executors
  (zlib gzip streams are deterministic, mtime=0), the driver lays out
  offsets in tile-id order (clustered=1), phase 2 re-compresses and
  pwrites every blob at its closed-form offset. Directory + header are
  driver-side (they are the small metadata, not the data).
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import pandas as pd
from ..core import vsi
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .mvt import _get_varint, _put_varint, decode_tile, pbf_files

HEADER_LEN = 127
ROOT_CAP = 16384          # entries before spilling to leaf directories
LEAF_SIZE = 8192

# --------------------------------------------------------------- tile ids


def zxy_to_tileid(z: int, x: int, y: int) -> int:
    """Hilbert xy2d at zoom z, offset by the cumulative pyramid size
    (4^z - 1)/3 — the PMTiles v3 addressing scheme."""
    acc = ((1 << (2 * z)) - 1) // 3
    n = 1 << z
    rx = ry = 0
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return acc + d


def tileid_to_zxy(tid: int):
    z = 0
    while tid >= (1 << (2 * z)):
        tid -= 1 << (2 * z)
        z += 1
    n = 1 << z
    x = y = 0
    t = tid
    s = 1
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s <<= 1
    return z, x, y


# ------------------------------------------------------------ directories


def serialize_directory(entries) -> bytes:
    """entries: sorted [(tile_id, offset, length, run_length)] -> spec
    varint block (delta ids, then run_lengths, lengths, offsets with the
    contiguity-0 trick)."""
    out = bytearray()
    _put_varint(out, len(entries))
    last = 0
    for tid, _o, _l, _r in entries:
        _put_varint(out, tid - last)
        last = tid
    for _t, _o, _l, r in entries:
        _put_varint(out, r)
    for _t, _o, l, _r in entries:
        _put_varint(out, l)
    prev_end = None
    for _t, o, l, _r in entries:
        if prev_end is not None and o == prev_end:
            _put_varint(out, 0)
        else:
            _put_varint(out, o + 1)
        prev_end = o + l
    return bytes(out)


def deserialize_directory(buf: bytes):
    off = 0
    n, off = _get_varint(buf, off)
    tids, runs, lens, offs = [], [], [], []
    last = 0
    for _ in range(n):
        d, off = _get_varint(buf, off)
        last += d
        tids.append(last)
    for _ in range(n):
        r, off = _get_varint(buf, off)
        runs.append(r)
    for _ in range(n):
        l, off = _get_varint(buf, off)
        lens.append(l)
    prev_end = None
    for i in range(n):
        o, off = _get_varint(buf, off)
        if o == 0:
            offs.append(prev_end)
        else:
            offs.append(o - 1)
        prev_end = offs[-1] + lens[i]
    return list(zip(tids, offs, lens, runs))


def _gzip(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 31)     # gzip container, mtime 0
    return co.compress(data) + co.flush()


def _gunzip(data: bytes) -> bytes:
    return zlib.decompress(data, 31)


# ----------------------------------------------------------------- header

_HDR = struct.Struct("<7sBQQQQQQQQQQQBBBBBBiiiiBii")


def _pack_header(**kw) -> bytes:
    return _HDR.pack(
        b"PMTiles", 3,
        kw["root_off"], kw["root_len"], kw["meta_off"], kw["meta_len"],
        kw["leaf_off"], kw["leaf_len"], kw["data_off"], kw["data_len"],
        kw["n_addressed"], kw["n_entries"], kw["n_contents"],
        1,                       # clustered
        2, kw.get("tile_compression", 2),   # internal gzip, tile gzip
        kw.get("tile_type", 1),             # 1 = MVT
        kw["min_zoom"], kw["max_zoom"],
        int(kw.get("min_lon", -180.0) * 1e7),
        int(kw.get("min_lat", -85.05112878) * 1e7),
        int(kw.get("max_lon", 180.0) * 1e7),
        int(kw.get("max_lat", 85.05112878) * 1e7),
        kw["min_zoom"], 0, 0)


def parse_header(buf: bytes) -> dict:
    v = _HDR.unpack_from(buf, 0)
    if v[0] != b"PMTiles" or v[1] != 3:
        raise ValueError("not a PMTiles v3 archive")
    keys = ("root_off", "root_len", "meta_off", "meta_len", "leaf_off",
            "leaf_len", "data_off", "data_len", "n_addressed",
            "n_entries", "n_contents", "clustered",
            "internal_compression", "tile_compression", "tile_type",
            "min_zoom", "max_zoom", "min_lon_e7", "min_lat_e7",
            "max_lon_e7", "max_lat_e7", "center_zoom", "center_lon_e7",
            "center_lat_e7")
    return dict(zip(keys, v[2:]))


# ------------------------------------------------------------------ write


def write_pmtiles(tiles: DataFrame, path: str, *,
                  z_col: str = "z", x_col: str = "x", y_col: str = "y",
                  data_col: str = "data",
                  metadata: dict | None = None,
                  tile_type: int = 1) -> int:
    """(z, x, y, data binary) DataFrame -> one .pmtiles archive.
    Returns the number of tiles written."""
    from pyspark.sql import functions as F

    base = tiles.select(F.col(z_col).cast("int").alias("z"),
                        F.col(x_col).cast("long").alias("x"),
                        F.col(y_col).cast("long").alias("y"),
                        F.col(data_col).alias("data"))

    @F.pandas_udf("long")
    def tid_of(z: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series([zxy_to_tileid(int(a), int(b), int(c))
                          for a, b, c in zip(z, x, y)])

    @F.pandas_udf("long")
    def gz_len(data: pd.Series) -> pd.Series:
        return pd.Series([len(_gzip(bytes(b))) for b in data])

    with_id = base.withColumn("tid", tid_of("z", "x", "y"))
    # phase 1: lengths only (one small row per tile reaches the driver)
    sizes = with_id.select("tid", "z", gz_len("data").alias("n")) \
        .orderBy("tid").collect()
    if not sizes:
        raise ValueError("no tiles to write")
    zs = [int(r.z) for r in sizes]
    entries, off = [], 0
    offsets = {}
    lengths = {}
    for r in sizes:
        entries.append((int(r.tid), off, int(r.n), 1))
        offsets[int(r.tid)] = off
        lengths[int(r.tid)] = int(r.n)
        off += int(r.n)
    data_len = off

    # directories (root, spilling to gzip'd leaves when large)
    if len(entries) <= ROOT_CAP:
        root = _gzip(serialize_directory(entries))
        leaves = b""
    else:
        leaf_blobs, root_entries, pos = [], [], 0
        for i in range(0, len(entries), LEAF_SIZE):
            chunk = entries[i:i + LEAF_SIZE]
            blob = _gzip(serialize_directory(chunk))
            root_entries.append((chunk[0][0], pos, len(blob), 0))
            leaf_blobs.append(blob)
            pos += len(blob)
        root = _gzip(serialize_directory(root_entries))
        leaves = b"".join(leaf_blobs)

    meta = _gzip(json.dumps(metadata or {}).encode())
    root_off = HEADER_LEN
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta)
    data_off = leaf_off + len(leaves)
    hdr = _pack_header(
        root_off=root_off, root_len=len(root),
        meta_off=meta_off, meta_len=len(meta),
        leaf_off=leaf_off, leaf_len=len(leaves),
        data_off=data_off, data_len=data_len,
        n_addressed=len(entries), n_entries=len(entries),
        n_contents=len(entries), min_zoom=min(zs), max_zoom=max(zs),
        tile_type=tile_type)
    with open(path, "wb") as f:
        f.write(hdr + root + meta + leaves)
        f.truncate(data_off + data_len)

    # phase 2: executors pwrite each compressed blob at its offset
    boff = tiles.sparkSession.sparkContext.broadcast(offsets)
    blen = tiles.sparkSession.sparkContext.broadcast(lengths)

    def emit(batches):
        for pdf in batches:
            n = 0
            fd = os.open(path, os.O_WRONLY)
            try:
                for r in pdf.itertuples(index=False):
                    blob = _gzip(bytes(r.data))
                    want = blen.value[int(r.tid)]
                    if len(blob) != want:
                        # zlib version/build skew between the phase-1 and
                        # phase-2 executors would silently overlap or gap
                        # the directory's byte layout — fail loudly instead
                        raise RuntimeError(
                            f"tile {int(r.tid)}: recompressed length "
                            f"{len(blob)} != directory length {want} "
                            "(heterogeneous zlib across executors?)")
                    os.pwrite(fd, blob, data_off + boff.value[int(r.tid)])
                    n += 1
            finally:
                os.close(fd)
            yield pd.DataFrame({"n": [n]})

    total = with_id.select("tid", "data") \
        .mapInPandas(emit, "n long").agg({"n": "sum"}).collect()[0][0]
    return int(total)


# ------------------------------------------------------------------- read


def _all_entries(path: str, hdr: dict):
    """Root + leaf directories -> [(tile_id, offset, length)] with runs
    expanded. Directories are KB-scale; parsed driver-side."""
    with vsi.open_seekable(path) as f:
        f.seek(hdr["root_off"])
        root = deserialize_directory(_gunzip(f.read(hdr["root_len"])))
        out = []
        for tid, off, ln, run in root:
            if run == 0:                     # leaf pointer
                f.seek(hdr["leaf_off"] + off)
                for t2, o2, l2, r2 in deserialize_directory(
                        _gunzip(f.read(ln))):
                    for k in range(max(1, r2)):
                        out.append((t2 + k, o2, l2))
            else:
                for k in range(run):
                    out.append((tid + k, off, ln))
    return out


def read_pmtiles(spark: SparkSession, path: str,
                 tiles_per_task: int = 2048):
    """.pmtiles -> (DataFrame(z, x, y, layer, fid, gtype, geom
    WKB-in-mercator, props), header dict) — same row shape as
    mvt.read_mvt, so the two front doors are interchangeable."""
    with vsi.open_seekable(path) as f:
        hdr = parse_header(f.read(HEADER_LEN))
    entries = _all_entries(path, hdr)
    data_off = hdr["data_off"]

    schema = T.StructType([
        T.StructField("z", T.IntegerType()),
        T.StructField("x", T.LongType()), T.StructField("y", T.LongType()),
        T.StructField("layer", T.StringType()),
        T.StructField("fid", T.LongType()),
        T.StructField("gtype", T.IntegerType()),
        T.StructField("geom", T.BinaryType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()))])
    cols = [s.name for s in schema.fields]

    tasks = [entries[i:i + tiles_per_task]
             for i in range(0, len(entries), tiles_per_task)]
    tdf = spark.createDataFrame(
        pd.DataFrame({"tids": [[e[0] for e in t] for t in tasks],
                      "offs": [[e[1] for e in t] for t in tasks],
                      "lens": [[e[2] for e in t] for t in tasks]}),
        schema="tids array<long>, offs array<long>, lens array<long>")

    from .mvt import _mvt_to_geom, _props_as_str
    from ..core import wkb as W

    def parse(batches):
        for pdf in batches:
            rows = []
            with vsi.open_seekable(path) as f:
                for tids, offs, lens in zip(pdf["tids"], pdf["offs"],
                                            pdf["lens"]):
                    for tid, off, ln in zip(tids, offs, lens):
                        f.seek(data_off + int(off))
                        blob = f.read(int(ln))
                        if hdr["tile_compression"] == 2:
                            blob = _gunzip(blob)
                        z, tx, ty = tileid_to_zxy(int(tid))
                        for ft in decode_tile(blob):
                            g = _mvt_to_geom(ft["gtype"], ft["parts"],
                                             tx, ty, z, ft["extent"])
                            rows.append((z, tx, ty, ft["layer"],
                                         ft["fid"], ft["gtype"],
                                         W.encode(g) if g else None,
                                         _props_as_str(ft["props"])))
            yield pd.DataFrame(rows, columns=cols) if rows else \
                pd.DataFrame({c: pd.Series(dtype="object") for c in cols})

    return tdf.mapInPandas(parse, schema), hdr


def mvt_dir_to_pmtiles(spark: SparkSession, mvt_dir: str,
                       path: str) -> int:
    """Pack a z/x/y.pbf tree (mvt.write_mvt output) into one archive."""
    from pyspark.sql import functions as F
    bf = pbf_files(spark, mvt_dir)
    parts = F.split(F.col("path"), "/")
    n = F.size(parts)
    df = bf.select(
        F.element_at(parts, n - 2).cast("int").alias("z"),
        F.element_at(parts, n - 1).cast("long").alias("x"),
        F.regexp_replace(F.element_at(parts, n), r"\.pbf$", "")
         .cast("long").alias("y"),
        F.col("content").alias("data"))
    meta = {}
    mj = os.path.join(mvt_dir, "metadata.json")
    if os.path.isfile(mj):
        with open(mj) as f:
            meta = json.load(f)
    return write_pmtiles(df, path, metadata=meta)
