"""Median-cut palette + nearest-color quantization (rgb -> PCT).

Re-expresses the parallelizable half of the reference's color-table stack
(/root/reference/alg/gdalmediancut.cpp GDALComputeMedianCutPCT — Heckbert
1982 median cut over a 5-bit-per-channel histogram, after libtiff's
tiffmedian.c) Spark-first:

    1. distributed histogram: one groupBy over the quantized (r, g, b)
       triples of the whole image — at 5 bits/channel at most 32768 rows
       reach the driver regardless of raster size (map-side combine does
       the heavy lifting);
    2. the median-cut loop runs on that tiny histogram driver-side
       (split the box with the largest pixel count along its longest
       axis at the population median — the reference's rule);
    3. quantization to the palette is a map-only pass (vectorized
       nearest-color in numpy per tile).

`median_cut` keeps a population-weighted-centroid palette (better colours
for the quantization oracle queries); `median_cut_exact` is the bit-exact
GDALComputeMedianCutPCT twin — box-midpoint colours in the reference's
usedboxes linked-list order — used by the dithering pipeline
(raster/dither.py), which pins GDAL's own rgbsmall.tif golden table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import TILE_SCHEMA, decode_px, encode_px

_HIST_SCHEMA = T.StructType([
    T.StructField("r", T.IntegerType()),
    T.StructField("g", T.IntegerType()),
    T.StructField("b", T.IntegerType()),
    T.StructField("n", T.LongType()),
])


def _rgb_tiles(tiles_df: DataFrame, tile: int):
    """Group the band-1/2/3 tiles of one (zoom, tile_x, tile_y) cell."""
    return tiles_df.groupBy("zoom", "tile_x", "tile_y")


def color_histogram(tiles_df: DataFrame, tile: int = 256,
                    bits: int = 5, width: int | None = None,
                    height: int | None = None) -> DataFrame:
    """(r, g, b, n) at `bits` per channel (gdalmediancut.cpp:347
    nCLevels = 1 << nBits).  `width`/`height` crop edge tiles so
    zero-padding never enters the histogram (the reference scans exactly
    nXSize x nYSize pixels, gdalmediancut.cpp:436-496)."""
    shift = 8 - bits

    def partials(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[1]), int(key[2])
        w_t = tile if width is None else \
            max(0, min(tile, width - tx * tile))
        h_t = tile if height is None else \
            max(0, min(tile, height - ty * tile))
        chans = {}
        for row in pdf.itertuples():
            chans[int(row.band)] = \
                decode_px(row.px, row.dtype, tile)[:h_t, :w_t]
        if not all(k in chans for k in (1, 2, 3)) or h_t * w_t == 0:
            return pd.DataFrame(columns=[f.name for f in
                                         _HIST_SCHEMA.fields])
        q = [(np.clip(chans[k], 0, 255).astype(np.int64) >> shift).ravel()
             for k in (1, 2, 3)]
        code = (q[0] << (2 * bits)) | (q[1] << bits) | q[2]
        uniq, cnt = np.unique(code, return_counts=True)
        return pd.DataFrame({
            "r": (uniq >> (2 * bits)).astype(np.int32),
            "g": ((uniq >> bits) & ((1 << bits) - 1)).astype(np.int32),
            "b": (uniq & ((1 << bits) - 1)).astype(np.int32),
            "n": cnt})

    return _rgb_tiles(tiles_df, tile).applyInPandas(partials, _HIST_SCHEMA) \
        .groupBy("r", "g", "b").agg(F.sum("n").alias("n"))


def median_cut(hist: pd.DataFrame, n_colors: int = 256,
               bits: int = 5) -> np.ndarray:
    """Heckbert median cut over the collected histogram -> (k, 3) uint8
    palette (box centroids weighted by population). Split rule: the box
    holding the most pixels splits along its longest axis at the
    population median (gdalmediancut.cpp splitbox/shrinkbox)."""
    pts = hist[["r", "g", "b"]].to_numpy(np.int64)
    w = hist["n"].to_numpy(np.int64)
    boxes = [np.arange(len(pts))]

    def pop(idx):
        return int(w[idx].sum())

    while len(boxes) < n_colors:
        splittable = [k for k, bx in enumerate(boxes) if len(bx) > 1]
        if not splittable:
            break
        k = max(splittable, key=lambda k: pop(boxes[k]))
        cand = boxes.pop(k)
        spans = pts[cand].max(0) - pts[cand].min(0)
        axis = int(np.argmax(spans))
        order = cand[np.argsort(pts[cand, axis], kind="stable")]
        csum = np.cumsum(w[order])
        half = csum[-1] / 2.0
        cut = int(np.searchsorted(csum, half)) + 1
        cut = min(max(cut, 1), len(order) - 1)
        boxes += [order[:cut], order[cut:]]

    scale = 1 << (8 - bits)
    pal = []
    for bx in boxes:
        ww = w[bx].astype(np.float64)
        c = (pts[bx] * scale + scale / 2.0)
        pal.append(np.round((c * ww[:, None]).sum(0) / ww.sum()))
    return np.clip(np.array(pal), 0, 255).astype(np.uint8)


def median_cut_exact(hist: pd.DataFrame, n_colors: int = 256,
                     bits: int = 5) -> np.ndarray:
    """Bit-exact GDALComputeMedianCutPCT twin over the collected
    histogram (alg/gdalmediancut.cpp:525-553 split loop, :575 largest_box,
    :763 splitbox, :1078 shrinkbox).  Differences from `median_cut`:

      * the box to split is the largest TOTAL population among boxes with
        any extent (strict '>', earliest in list order wins);
      * split axis priority red >= green >= blue on span ties (:786-792);
      * the median index walks the 1-D histogram until the running sum
        reaches total/2 (integer), bumped off `first` (:983-993);
      * the new lower-half box is PREPENDED to the used list (:996-1003)
        and both halves shrink to their occupied bounds;
      * palette entry = ((min + max) << shift) / 2 per channel (:543-550)
        — box midpoints, NOT centroids — emitted in list order.

    Returns (k, 3) uint8, k <= n_colors."""
    n = 1 << bits
    shift = 8 - bits
    cnt = np.zeros((n, n, n), np.int64)          # [r, g, b]
    cnt[hist["r"].to_numpy(np.int64), hist["g"].to_numpy(np.int64),
        hist["b"].to_numpy(np.int64)] = hist["n"].to_numpy(np.int64)

    occ = np.argwhere(cnt > 0)
    if occ.size == 0:
        return np.zeros((0, 3), np.uint8)

    def shrink(b):
        sub = cnt[b["rmin"]:b["rmax"] + 1, b["gmin"]:b["gmax"] + 1,
                  b["bmin"]:b["bmax"] + 1]
        nz = np.argwhere(sub > 0)
        if nz.size == 0:                         # ref: scans find nothing,
            return                               # bounds left unchanged
        lo = nz.min(0)
        hi = nz.max(0)
        b["rmin"], b["gmin"], b["bmin"] = (int(b["rmin"] + lo[0]),
                                           int(b["gmin"] + lo[1]),
                                           int(b["bmin"] + lo[2]))
        b["rmax"], b["gmax"], b["bmax"] = (int(b["rmin"] + hi[0] - lo[0]),
                                           int(b["gmin"] + hi[1] - lo[1]),
                                           int(b["bmin"] + hi[2] - lo[2]))

    first_box = {"rmin": int(occ[:, 0].min()), "rmax": int(occ[:, 0].max()),
                 "gmin": int(occ[:, 1].min()), "gmax": int(occ[:, 1].max()),
                 "bmin": int(occ[:, 2].min()), "bmax": int(occ[:, 2].max()),
                 "total": int(cnt.sum())}
    used = [first_box]                           # index 0 == list head
    free = n_colors - 1
    while free > 0:
        ptr = None
        for b in used:                           # largest_box (:575-589)
            if (b["rmax"] > b["rmin"] or b["gmax"] > b["gmin"]
                    or b["bmax"] > b["bmin"]) \
                    and (ptr is None or b["total"] > ptr["total"]):
                ptr = b
        if ptr is None:
            break
        rs = ptr["rmax"] - ptr["rmin"]
        gs = ptr["gmax"] - ptr["gmin"]
        bs = ptr["bmax"] - ptr["bmin"]
        if rs >= gs and rs >= bs:
            axis, amin, amax = 0, ptr["rmin"], ptr["rmax"]
        elif gs >= bs:
            axis, amin, amax = 1, ptr["gmin"], ptr["gmax"]
        else:
            axis, amin, amax = 2, ptr["bmin"], ptr["bmax"]
        sub = cnt[ptr["rmin"]:ptr["rmax"] + 1, ptr["gmin"]:ptr["gmax"] + 1,
                  ptr["bmin"]:ptr["bmax"] + 1]
        h1 = sub.sum(axis=tuple(a for a in (0, 1, 2) if a != axis))
        # median walk (:983-993): first index where cumsum >= total/2
        sum2 = ptr["total"] // 2
        s = 0
        i = amin
        while i <= amax:
            s += int(h1[i - amin])
            if s >= sum2:
                break
            i += 1
        if i == amin:
            i += 1
        new_cb = dict(ptr)
        lo_keys = ("rmax", "gmax", "bmax")
        hi_keys = ("rmin", "gmin", "bmin")
        new_cb[lo_keys[axis]] = i - 1
        ptr[hi_keys[axis]] = i
        new_cb["total"] = int(h1[:i - amin].sum())
        ptr["total"] = int(h1[i - amin:].sum())
        shrink(new_cb)
        shrink(ptr)
        used.insert(0, new_cb)                   # prepend (:996-1003)
        free -= 1

    pal = [(((b["rmin"] + b["rmax"]) << shift) // 2,
            ((b["gmin"] + b["gmax"]) << shift) // 2,
            ((b["bmin"] + b["bmax"]) << shift) // 2) for b in used]
    return np.array(pal, np.uint8)


def compute_median_cut_pct_exact(tiles_df: DataFrame, n_colors: int = 256,
                                 tile: int = 256, bits: int = 5,
                                 width: int | None = None,
                                 height: int | None = None) -> np.ndarray:
    """Distributed histogram + the bit-exact driver-side cut."""
    hist = color_histogram(tiles_df, tile, bits, width, height).toPandas()
    return median_cut_exact(hist, n_colors, bits)


def compute_median_cut_pct(tiles_df: DataFrame, n_colors: int = 256,
                           tile: int = 256, bits: int = 5) -> np.ndarray:
    """GDALComputeMedianCutPCT twin: distributed histogram + driver cut."""
    hist = color_histogram(tiles_df, tile, bits).toPandas()
    return median_cut(hist, n_colors, bits)


def rgb_to_pct(tiles_df: DataFrame, palette: np.ndarray,
               tile: int = 256) -> DataFrame:
    """Nearest-palette-color quantization (diffusion-free
    GDALDitherRGB2PCT counterpart): -> single-band uint8 tile table of
    palette indices. Pure map over tiles, palette ships in the closure."""
    pal = np.asarray(palette, np.float64)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        chans = {}
        zoom, tx, ty = int(key[0]), int(key[1]), int(key[2])
        for row in pdf.itertuples():
            chans[int(row.band)] = decode_px(row.px, row.dtype, tile)
        cols = [f.name for f in TILE_SCHEMA.fields]
        if not all(k in chans for k in (1, 2, 3)):
            return pd.DataFrame(columns=cols)
        rgb = np.stack([chans[k].astype(np.float64) for k in (1, 2, 3)],
                       axis=-1).reshape(-1, 3)
        d2 = ((rgb[:, None, :] - pal[None, :, :]) ** 2).sum(-1)
        idx = np.argmin(d2, axis=1).astype(np.uint8).reshape(tile, tile)
        return pd.DataFrame(
            [(1, zoom, tx, ty, "uint8", None, encode_px(idx))],
            columns=cols)

    return _rgb_tiles(tiles_df, tile).applyInPandas(run, TILE_SCHEMA)


def pct_to_rgb(tiles_df: DataFrame, palette: np.ndarray,
               tile: int = 256) -> DataFrame:
    """pct2rgb twin (apps/pct2rgb.py / GDALRasterBand color table
    expansion): single-band palette-index tiles -> 3-band RGB tile table
    via one vectorized palette gather per tile. Inverse of rgb_to_pct on
    palette-exact inputs; out-of-range indices clip to the last entry
    (color tables have no sentinel)."""
    pal = np.asarray(palette, np.float64).round().astype(np.uint8)

    def run(batches):
        cols = [f.name for f in TILE_SCHEMA.fields]
        for pdf in batches:
            out = []
            for row in pdf.itertuples():
                idx = decode_px(row.px, row.dtype, tile).astype(np.int64)
                idx = np.clip(idx, 0, len(pal) - 1)
                rgb = pal[idx]                       # (tile, tile, 3)
                for b in range(3):
                    out.append((b + 1, row.zoom, row.tile_x, row.tile_y,
                                "uint8", None,
                                encode_px(np.ascontiguousarray(
                                    rgb[:, :, b]))))
            yield pd.DataFrame(out, columns=cols)

    return tiles_df.mapInPandas(run, TILE_SCHEMA)
