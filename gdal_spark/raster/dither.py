"""Floyd-Steinberg RGB->PCT dithering, distributed by loop-skewed wavefront.

Twin of GDALDitherRGB2PCT (/root/reference/alg/gdaldither.cpp:139 public
wrapper -> GDALDitherRGB2PCTInternal:153).  Reference semantics, preserved
bit-for-bit:

  * nearest colour = L1 distance (sum of per-channel |d|) over the <=256
    palette entries, first minimum wins (gdaldither.cpp:667-683);
  * the default nBits=5 path routes pixels through a colour cube: cell
    i = v * nCLevels / 256 per channel, the cell's representative colour
    is (i * 255) / (nCLevels - 1), and the nearest palette index per cell
    is precomputed (gdaldither.cpp:303, 482-487, 692-717);
  * nBits=8 ("exact") path looks the true pixel colour up directly
    (gdaldither.cpp:489-504 dynamic colour map);
  * per channel, with nError = value - palette[idx] and
    nSixth = nError / 6 truncated toward zero as C does:
    2*nSixth is carried right within the scanline, nSixth goes to the
    next line's left and right neighbours, nError - 5*nSixth to the next
    line's centre (gdaldither.cpp:516-553);
  * the previous line's accumulated error is applied with a clamp to
    [0,255], then the right-carried error is applied with a second clamp
    (gdaldither.cpp:379-393, 404-411).

The reference runs one thread over scanlines, strictly sequential.  The
recurrence's dependency stencil is: pixel (r, c) consumes error from
(r, c-1), (r-1, c-1), (r-1, c), (r-1, c+1).  The (r-1, c+1) term makes a
rectangular tile decomposition cyclic — a tile would need its left
neighbour's carries while the left neighbour needs the tile's down-left
spills — so `dither_rgb2pct` applies the classic LOOP SKEW first: in
sheared coordinates c' = c + r every producer of (r, c') sits at
(r, c'-1) or (r-1, c'-2..c'), i.e. strictly left/up.  Rectangular tiles
of the sheared plane (parallelograms of the image) then form an acyclic
2D wavefront: tile (I, J) depends only on (I-1, J), (I, J-1), (I-1, J-1)
and runs on wave I + J; all tiles of a wave are independent, one Spark
job per wave, min(#I, #J)-way parallel.  Boundary state per tile is
O(tile) ints — a bottom error row (tw+2, 3) and a right column of
(carry, two spill slots) (th, 9) — so the driver holds the wave frontier,
never pixels; output tiles are materialized per wave with localCheckpoint
and un-sheared back to the rectangular tile grid at the end.  The
reference's own implementation is fully sequential, so equal per-tile
throughput beats it whenever the wave width exceeds 1, with bit-identical
pixels (pinned by GDAL's own rgbsmall golden: median-cut table + dither
checksum 8803, autotest/alg/dither.py:49).

SCALE CEILING (documented on purpose): the driver schedules one Spark
job per anti-diagonal — O(tiles_x + tiles_y) sequential job launches,
each collecting only the O(tile)-byte boundary strips (~6 KB/tile), so
driver MEMORY is flat but wall time has a floor of n_waves x job-launch
latency (~50-100 ms/job).  A 100k x 100k image at tile=1024 is ~200
waves ≈ tens of seconds of scheduling floor on top of the pixel work —
acceptable because the recurrence is inherently sequential along the
diagonal (the reference pays the FULL serial scan instead).  If that
floor ever matters, the fix is coarser tiles (waves shrink linearly),
not more executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import TILE_SCHEMA, decode_px, encode_px


def find_nearest_color(palette: np.ndarray, rgb: np.ndarray) -> np.ndarray:
    """First index of the L1-nearest palette entry for each rgb row
    (gdaldither.cpp:667-683 FindNearestColor: strict '<' keeps the
    earliest minimum; np.argmin does the same).

    palette: (k, 3) uint8; rgb: (m, 3) ints -> (m,) int indices."""
    p = palette.astype(np.int64)
    v = np.asarray(rgb, np.int64)
    d = np.abs(v[:, None, :] - p[None, :, :]).sum(-1)
    return np.argmin(d, axis=1)


def build_color_cube(palette: np.ndarray, n_bits: int = 5) -> np.ndarray:
    """Precomputed cell -> palette-index cube (gdaldither.cpp:692-717
    FindNearestColor over all cells; representative colour of cell i is
    (i * 255) / (nCLevels - 1), integer division).

    Returns a flat uint8 array indexed [ir + ig*n + ib*n*n]."""
    n = 1 << n_bits
    reps = (np.arange(n, dtype=np.int64) * 255) // (n - 1)
    p = palette.astype(np.int64)
    dr = np.abs(reps[:, None] - p[None, :, 0])     # (n, k) per channel
    dg = np.abs(reps[:, None] - p[None, :, 1])
    db = np.abs(reps[:, None] - p[None, :, 2])
    cube = np.empty(n * n * n, np.uint8)
    for ib in range(n):
        # (n_g, n_r, k) block, argmin over the palette axis
        d = db[ib][None, None, :] + dg[:, None, :] + dr[None, :, :]
        cube[ib * n * n:(ib + 1) * n * n] = \
            np.argmin(d, axis=2).astype(np.uint8).ravel()
    return cube


def dither_block(red: np.ndarray, green: np.ndarray, blue: np.ndarray,
                 palette: np.ndarray, cube: np.ndarray | None,
                 n_bits: int = 5, cache: dict | None = None) -> np.ndarray:
    """Whole-image sequential scan — the direct transcription of the
    reference loop (gdaldither.cpp:328-565), used as the in-process
    oracle the distributed wavefront is tested against.  Returns the
    (h, w) uint8 palette-index raster."""
    h, w = red.shape
    pal = palette.astype(np.int64)
    n = 1 << n_bits
    if cache is None:
        cache = {}
    idx = np.empty((h, w), np.uint8)
    err = np.zeros((w + 2, 3), np.int64)   # err[c+1] = next-line slot, col c
    cube_l = cube.tolist() if cube is not None else None
    pr_l, pg_l, pb_l = (pal[:, 0].tolist(), pal[:, 1].tolist(),
                        pal[:, 2].tolist())
    for y in range(h):
        rv = np.clip(red[y].astype(np.int64) + err[1:w + 1, 0],
                     0, 255).tolist()
        gv = np.clip(green[y].astype(np.int64) + err[1:w + 1, 1],
                     0, 255).tolist()
        bv = np.clip(blue[y].astype(np.int64) + err[1:w + 1, 2],
                     0, 255).tolist()
        err[:] = 0                          # memset per line (:392)
        lr = lg = lb = 0
        row = idx[y]
        for x in range(w):
            r = rv[x] + lr
            r = 0 if r < 0 else (255 if r > 255 else r)
            g = gv[x] + lg
            g = 0 if g < 0 else (255 if g > 255 else g)
            b = bv[x] + lb
            b = 0 if b < 0 else (255 if b > 255 else b)
            if cube_l is not None:
                i = cube_l[(r * n >> 8) + (g * n >> 8) * n
                           + (b * n >> 8) * n * n]
            else:
                key = (r << 16) | (g << 8) | b
                i = cache.get(key)
                if i is None:
                    i = int(find_nearest_color(palette,
                                               np.array([[r, g, b]]))[0])
                    cache[key] = i
            row[x] = i
            e = r - pr_l[i]
            s = e // 6 if e >= 0 else -((-e) // 6)
            err[x, 0] += s                  # next line, left (:519)
            err[x + 2, 0] = s               # next line, right ('=' as :520)
            err[x + 1, 0] += e - 5 * s      # next line, centre (:521)
            lr = 2 * s                      # carried right (:523)
            e = g - pg_l[i]
            s = e // 6 if e >= 0 else -((-e) // 6)
            err[x, 1] += s
            err[x + 2, 1] = s
            err[x + 1, 1] += e - 5 * s
            lg = 2 * s
            e = b - pb_l[i]
            s = e // 6 if e >= 0 else -((-e) // 6)
            err[x, 2] += s
            err[x + 2, 2] = s
            err[x + 1, 2] += e - 5 * s
            lb = 2 * s
    return idx


def dither_sheared_block(rgb: np.ndarray, r0: int, c0: int, width: int,
                         height: int, palette: np.ndarray,
                         cube: np.ndarray | None, n_bits: int,
                         top_err: np.ndarray | None,
                         left_in: np.ndarray | None,
                         cache: dict | None = None):
    """The same recurrence over one sheared tile.

    rgb: (th, tw, 3) where rgb[rl, j] = image pixel
    (row r0+rl, col c0 + j - (r0+rl)); cells outside the image are
    ignored.  In sheared coordinates a pixel at local col j sends error
    to next-row local cols j, j+1, j+2 and carries right to j+1, so the
    per-row error slots need no re-alignment between rows.

    top_err: (tw, 3) — next-row error into this tile's top row (sheared
    cols c0..c0+tw-1), assembled from the upper neighbours' bottom
    exports.  left_in: (th, 9) rows of [carry(3), a0(3), a1(3)] from the
    left neighbour: carry[rl] enters this tile's row rl at local col 0;
    a0/a1 of row rl are the left tile's row-rl spills into sheared cols
    c0, c0+1, consumed when processing row rl+1.

    Returns (idx (th, tw) uint8 (sheared layout, 0 outside the image),
             bottom (tw+2, 3) — last row's spills into sheared cols
                 c0..c0+tw+1 for global row r0+th,
             right (th, 9) — this tile's [carry, a0, a1] per row)."""
    th, tw = rgb.shape[:2]
    pal = palette.astype(np.int64)
    n = 1 << n_bits
    if cache is None:
        cache = {}
    idx = np.zeros((th, tw), np.uint8)
    if top_err is None:
        top_err = np.zeros((tw, 3), np.int64)
    if left_in is None:
        left_in = np.zeros((th, 9), np.int64)
    right = np.zeros((th, 9), np.int64)
    err = np.zeros((tw + 2, 3), np.int64)
    err[:tw] = top_err
    cube_l = cube.tolist() if cube is not None else None
    pr_l, pg_l, pb_l = (pal[:, 0].tolist(), pal[:, 1].tolist(),
                        pal[:, 2].tolist())
    for rl in range(th):
        r = r0 + rl
        if rl > 0:
            err[0] += left_in[rl - 1, 3:6]
            err[1] += left_in[rl - 1, 6:9]
        if r >= height:
            break
        j0 = max(0, r - c0)
        j1 = min(tw, width + r - c0)
        if j0 >= j1:
            err[:] = 0
            continue
        rv = np.clip(rgb[rl, j0:j1, 0].astype(np.int64)
                     + err[j0:j1, 0], 0, 255).tolist()
        gv = np.clip(rgb[rl, j0:j1, 1].astype(np.int64)
                     + err[j0:j1, 1], 0, 255).tolist()
        bv = np.clip(rgb[rl, j0:j1, 2].astype(np.int64)
                     + err[j0:j1, 2], 0, 255).tolist()
        err[:] = 0
        if j0 == 0 and c0 - r > 0:          # a left pixel exists off-tile
            lr, lg, lb = (int(left_in[rl, 0]), int(left_in[rl, 1]),
                          int(left_in[rl, 2]))
        else:                               # image edge: no carry (:400-402)
            lr = lg = lb = 0
        row = idx[rl]
        for k in range(j1 - j0):
            x = j0 + k
            r_ = rv[k] + lr
            r_ = 0 if r_ < 0 else (255 if r_ > 255 else r_)
            g_ = gv[k] + lg
            g_ = 0 if g_ < 0 else (255 if g_ > 255 else g_)
            b_ = bv[k] + lb
            b_ = 0 if b_ < 0 else (255 if b_ > 255 else b_)
            if cube_l is not None:
                i = cube_l[(r_ * n >> 8) + (g_ * n >> 8) * n
                           + (b_ * n >> 8) * n * n]
            else:
                key = (r_ << 16) | (g_ << 8) | b_
                i = cache.get(key)
                if i is None:
                    i = int(find_nearest_color(
                        palette, np.array([[r_, g_, b_]]))[0])
                    cache[key] = i
            row[x] = i
            e = r_ - pr_l[i]
            s = e // 6 if e >= 0 else -((-e) // 6)
            err[x, 0] += s
            err[x + 2, 0] = s
            err[x + 1, 0] += e - 5 * s
            lr = 2 * s
            e = g_ - pg_l[i]
            s = e // 6 if e >= 0 else -((-e) // 6)
            err[x, 1] += s
            err[x + 2, 1] = s
            err[x + 1, 1] += e - 5 * s
            lg = 2 * s
            e = b_ - pb_l[i]
            s = e // 6 if e >= 0 else -((-e) // 6)
            err[x, 2] += s
            err[x + 2, 2] = s
            err[x + 1, 2] += e - 5 * s
            lb = 2 * s
        if j1 == tw:                        # last col is a real pixel:
            right[rl, 0:3] = (lr, lg, lb)   # carry + overhang spills
            right[rl, 3:6] = err[tw]
            right[rl, 6:9] = err[tw + 1]
    return idx, err.copy(), right


_DITHER_SCHEMA = T.StructType([
    T.StructField("s_i", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("px", T.BinaryType()),
    T.StructField("bot", T.BinaryType()),
    T.StructField("rcarry", T.BinaryType()),
])


def _assemble_sheared(pdf: pd.DataFrame, s_i: int, ty: int,
                      tile: int) -> np.ndarray:
    """Rect tile pieces (bands 1-3, tile_x in {s_i-ty-1, s_i-ty}) ->
    (tile, tile, 3) sheared block: row rl holds image cols
    [s_i*tile - r .. + tile) for r = ty*tile + rl."""
    tx_lo = s_i - ty - 1
    canvas = np.zeros((tile, 2 * tile, 3), np.uint8)
    for row in pdf.itertuples():
        b = int(row.band)
        if b not in (1, 2, 3):
            continue
        off = (int(row.tile_x) - tx_lo) * tile
        if 0 <= off <= tile:
            canvas[:, off:off + tile, b - 1] = \
                np.clip(decode_px(row.px, row.dtype, tile), 0, 255)
    block = np.zeros((tile, tile, 3), np.uint8)
    for rl in range(tile):
        block[rl] = canvas[rl, tile - rl:2 * tile - rl]
    return block


def _make_wave_fn(bnd: dict, pal: np.ndarray, cube: np.ndarray | None,
                  n_bits: int, tile: int, width: int, height: int):
    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        s_i, ty = int(key[0]), int(key[1])
        st = bnd.get((s_i, ty))
        if st is None:
            return pd.DataFrame(columns=[f.name for f in
                                         _DITHER_SCHEMA.fields])
        top, left = st
        block = _assemble_sheared(pdf, s_i, ty, tile)
        idx, bot, right = dither_sheared_block(
            block, ty * tile, s_i * tile, width, height, pal, cube,
            n_bits, top, left)
        return pd.DataFrame(
            [(s_i, ty, encode_px(idx), bot.astype(np.int64).tobytes(),
              right.astype(np.int64).tobytes())],
            columns=[f.name for f in _DITHER_SCHEMA.fields])
    return run


def dither_rgb2pct(tiles_df: DataFrame, palette: np.ndarray,
                   tile: int = 256, n_bits: int = 5,
                   width: int | None = None,
                   height: int | None = None) -> DataFrame:
    """GDALDitherRGB2PCT over the band-1/2/3 tile table -> single-band
    uint8 palette-index tile table, bit-identical to the reference's
    sequential scan (module docstring: loop-skewed wavefront).
    `width`/`height` bound the valid region so edge-tile padding never
    enters the error flow.  n_bits=5 is the reference default (colour
    cube); n_bits=8 is the exact dynamic-colour-map path."""
    pal = np.ascontiguousarray(np.asarray(palette, np.uint8)[:, :3])
    cube = build_color_cube(pal, n_bits) if n_bits < 8 else None

    rgb = tiles_df.where(F.col("band").isin(1, 2, 3))
    coords = [(int(r.tile_x), int(r.tile_y)) for r in
              rgb.select("tile_x", "tile_y").distinct().collect()]
    if not coords:
        return tiles_df.sparkSession.createDataFrame([], TILE_SCHEMA)
    n_tx = max(c[0] for c in coords) + 1
    n_ty = max(c[1] for c in coords) + 1
    if width is None:
        width = n_tx * tile
    if height is None:
        height = n_ty * tile

    # every rect tile feeds exactly two sheared stripes: s_i = tx+ty and
    # tx+ty+1 (one shuffle, 2x amplification)
    lo = rgb.withColumn("s_i", (F.col("tile_x") + F.col("tile_y"))
                        .cast("long"))
    hi = rgb.withColumn("s_i", (F.col("tile_x") + F.col("tile_y") + 1)
                        .cast("long"))
    sheared_src = lo.unionByName(hi).persist()
    s_coords = sorted({(tx + ty + k, ty)
                       for tx, ty in coords for k in (0, 1)})

    bot: dict = {}
    rcar: dict = {}
    out_parts = []
    n_waves = max(i + j for i, j in s_coords) + 1
    for d in range(n_waves):
        wave_bnd = {}
        for s_i, ty in s_coords:
            if s_i + ty != d:
                continue
            c0 = s_i * tile
            top = np.zeros((tile, 3), np.int64)
            if ty > 0:
                for si in (s_i - 1, s_i):
                    piece = bot.get((si, ty - 1))
                    if piece is None:
                        continue
                    p0 = si * tile            # covers [p0, p0+tile+1]
                    a = max(c0, p0)
                    z = min(c0 + tile, p0 + tile + 2)
                    if a < z:
                        top[a - c0:z - c0] += piece[a - p0:z - p0]
            wave_bnd[(s_i, ty)] = (top, rcar.get((s_i - 1, ty)))

        wave = sheared_src.where(F.col("s_i") + F.col("tile_y") == d) \
            .groupBy("s_i", "tile_y") \
            .applyInPandas(_make_wave_fn(wave_bnd, pal, cube, n_bits,
                                         tile, width, height),
                          _DITHER_SCHEMA) \
            .localCheckpoint(eager=True)
        for r in wave.select("s_i", "tile_y", "bot", "rcarry").collect():
            bot[(int(r.s_i), int(r.tile_y))] = \
                np.frombuffer(r.bot, np.int64).reshape(tile + 2, 3)
            rcar[(int(r.s_i), int(r.tile_y))] = \
                np.frombuffer(r.rcarry, np.int64).reshape(tile, 9)
        for k in list(bot):                   # frontier only
            if k[0] + k[1] < d - 1:
                bot.pop(k, None)
                rcar.pop(k, None)
        out_parts.append(wave.select("s_i", "tile_y", "px"))

    sheared_src.unpersist()
    allw = out_parts[0]
    for p in out_parts[1:]:
        allw = allw.unionByName(p)

    # un-shear: each sheared stripe feeds two rect tiles; overlay by mask
    piece_schema = T.StructType([
        T.StructField("tile_x", T.LongType()),
        T.StructField("tile_y", T.LongType()),
        T.StructField("px", T.BinaryType()),
        T.StructField("mask", T.BinaryType()),
    ])

    def unshear(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples():
                s_i, ty = int(rec.s_i), int(rec.tile_y)
                blk = np.frombuffer(rec.px, np.uint8) \
                    .reshape(tile, tile)
                canvas = np.zeros((tile, 2 * tile), np.uint8)
                mask = np.zeros((tile, 2 * tile), bool)
                for rl in range(tile):
                    r = ty * tile + rl
                    canvas[rl, tile - rl:2 * tile - rl] = blk[rl]
                    c = s_i * tile - r      # image col of local j=0
                    jv0 = max(0, r - s_i * tile)
                    jv1 = min(tile, width + r - s_i * tile)
                    if jv0 < jv1 and r < height:
                        mask[rl, tile - rl + jv0:tile - rl + jv1] = True
                tx_lo = s_i - ty - 1
                for k, txp in enumerate((tx_lo, tx_lo + 1)):
                    if txp < 0 or txp >= n_tx:
                        continue
                    sl = slice(k * tile, (k + 1) * tile)
                    if not mask[:, sl].any():
                        continue
                    rows.append((txp, ty, canvas[:, sl].tobytes(),
                                 np.packbits(mask[:, sl]).tobytes()))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              piece_schema.fields])

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros((tile, tile), np.uint8)
        for rec in pdf.itertuples():
            px = np.frombuffer(rec.px, np.uint8).reshape(tile, tile)
            m = np.unpackbits(np.frombuffer(rec.mask, np.uint8),
                              count=tile * tile).reshape(tile, tile) \
                .astype(bool)
            acc = np.where(m, px, acc)
        return pd.DataFrame(
            [(1, 0, int(key[0]), int(key[1]), "uint8", None,
              encode_px(acc))],
            columns=[f.name for f in TILE_SCHEMA.fields])

    return allw.mapInPandas(unshear, piece_schema) \
        .groupBy("tile_x", "tile_y").applyInPandas(combine, TILE_SCHEMA)
