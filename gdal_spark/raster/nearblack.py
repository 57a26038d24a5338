"""nearblack — convert nearly-black (or nearly-white) collars to exact value.

Twin of GDALNearblack (/root/reference/apps/nearblack_lib.cpp): two sweeps
over the raster (top-down, then bottom-up over the first sweep's output),
each line getting a vertical check (per-column non-near counters, frozen
once they exceed max_non_black) and two horizontal scans (L->R then R->L,
grey-area coupling to the vertical counters, re-enable on all-near columns,
the final pixel of each scan direction excluded) — ProcessLine semantics
reproduced branch for branch (nearblack_lib.cpp:516-709, pass structure
:360-404 top-down reading the SOURCE line by line, :436-486 bottom-up
reading the pass-1 OUTPUT).

Why this distributes exactly
----------------------------
The only state carried across lines is the per-column vertical counter,
and it evolves from each line's values AS READ (pass 1 reads the source,
pass 2 reads pass-1 output; a line is read once, before any modification
of it), so counter evolution depends only on the pass's INPUT nearness —
never on the pass's own replacements. Per column the strip transition is
the monoid  s' = min(s + k, max+1)  (k = non-near count in the strip's
column), so a tiny per-strip summary folds the global counters in one
single-task pass, and every strip then replays its own lines exactly:

  phase A  per row-strip: near mask on the source -> per-column counts k1
  fold 1   entering top-down counters per strip (n_strips x width ints)
  phase B  per strip: exact pass-1 replay (vertical + L->R + R->L per
           line) -> pass-1 pixels + mask + per-column k2 of the output
  fold 2   entering bottom-up counters per strip
  phase C  per strip: exact pass-2 replay -> final pixels + mask band

Horizontal scans are per-line-independent given the counters, so they
vectorize ACROSS the strip's rows: one numpy step per column with
per-row state arrays (doTest, nNonBlack) — Python work is O(width) per
strip, not O(width x rows).

Scale: a strip is width x tile x bands pixels (row-slab model, same shape
the GeoTIFF reader yields); for rasters wider than ~10^6 px at tile 256
a strip no longer fits one task and the same monoid would also have to
compose per tile_x (documented ceiling, like fillnodata's halo bound).

Output: the input bands with collar pixels set to the exact value, plus a
mask band (band 0, uint8: 255 valid / 0 collar) — the -setmask surface;
-setalpha is the same bit pattern written into an alpha band.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import TILE, TILE_SCHEMA, decode_px


def _near_mask(vals: np.ndarray, colors, near_dist: int) -> np.ndarray:
    """(B, ...) uint8 -> (...) bool: within near_dist of ANY color on every
    band (ProcessLine's color loop: non-black iff every color has some band
    outside the distance)."""
    near = np.zeros(vals.shape[1:], dtype=bool)
    for color in colors:
        within = np.ones(vals.shape[1:], dtype=bool)
        for b in range(vals.shape[0]):
            d = vals[b].astype(np.int64) - int(color[b])
            within &= (d <= near_dist) & (d >= -near_dist)
        near |= within
    return near


def _vertical_counts(near: np.ndarray, enter: np.ndarray, max_nb: int,
                     edge_strip: bool) -> tuple[np.ndarray, np.ndarray]:
    """Per-line counter state AFTER each line's vertical step, plus the
    vertical replacement mask. `near` rows are in PROCESSING order (flip
    beforehand for the bottom-up pass). edge_strip: this strip contains the
    raster line processed first (iLineFromTopOrBottom == 0)."""
    rows, w = near.shape
    counts = enter.astype(np.int64).copy()
    counts_h = np.empty((rows, w), dtype=np.int64)
    repl = np.zeros((rows, w), dtype=bool)
    for y in range(rows):
        nb = ~near[y]
        active = counts <= max_nb
        inc = active & nb
        newc = counts + inc
        if edge_strip and y == 0 and max_nb > 0:
            # a non-near value on the very first processed line terminates
            # the column immediately, no replacement (nearblack_lib.cpp:578)
            newc = np.where(inc, max_nb + 1, newc)
            repl[y] = active & ~nb
        else:
            repl[y] = active & (~nb | (nb & (newc <= max_nb)))
        counts = newc
        counts_h[y] = counts
    return counts_h, repl


def _horizontal_scan(vals: np.ndarray, mask: np.ndarray,
                     counts_h: np.ndarray, colors, near_dist: int,
                     max_h: int, repl_value: int, reverse: bool) -> None:
    """One scan direction over every row of a strip simultaneously,
    exactly ProcessLine's horizontal part (in-place on vals/mask).
    State arrays are per row; the loop is over columns. The loop excludes
    the end pixel (`i != iEnd`), like the reference."""
    nbands, rows, w = vals.shape
    do_test = np.ones(rows, dtype=bool)
    nnb = np.zeros(rows, dtype=np.int64)
    xs = range(w - 1) if not reverse else range(w - 1, 0, -1)
    first = 0 if not reverse else w - 1
    for x in xs:
        nonblack = ~_near_mask(vals[:, :, x], colors, near_dist)
        c = counts_h[:, x]
        act = do_test
        # grey areas: inherit the vertical counter, else count up
        grey = act & nonblack & (c <= max_h)
        nnb = np.where(grey, c, np.where(act & nonblack, nnb + 1, nnb))
        stop = act & (nnb > max_h)
        edge = act & nonblack & ~stop if (max_h > 0 and x == first) \
            else np.zeros(rows, dtype=bool)
        do_repl = act & ~stop & ~edge
        do_test = do_test & ~stop & ~edge
        if do_repl.any():
            vals[:, do_repl, x] = repl_value
            mask[do_repl, x] = 0
        # re-enable where the vertical pass saw a fully-near column
        reen = ~act & (c == 0)
        do_test = do_test | reen
        nnb = np.where(reen, 0, nnb)


def _strip_arrays(pdf: pd.DataFrame, width: int, rows: int, tile: int):
    """Assemble a strip's (bands, rows, width) uint8 cube from tile rows."""
    bands = sorted(pdf["band"].unique())
    vals = np.zeros((len(bands), rows, width), dtype=np.uint8)
    for _, r in pdf.iterrows():
        b = bands.index(r["band"])
        block = decode_px(r["px"], r["dtype"], tile)
        x0 = int(r["tile_x"]) * tile
        xs = min(tile, width - x0)
        if xs > 0:
            vals[b, :, x0:x0 + xs] = block[:rows, :xs]
    return bands, vals


def _emit_tiles(vals: np.ndarray, mask: np.ndarray, bands, ty: int,
                width: int, rows: int, tile: int) -> list:
    out = []
    for tx in range(-(-width // tile)):
        x0 = tx * tile
        xs = min(tile, width - x0)
        for bi, b in enumerate(bands):
            block = np.zeros((tile, tile), dtype=np.uint8)
            block[:rows, :xs] = vals[bi, :, x0:x0 + xs]
            out.append((int(b), 0, tx, ty, "uint8", None, block.tobytes()))
        mblock = np.zeros((tile, tile), dtype=np.uint8)
        mblock[:rows, :xs] = mask[:, x0:x0 + xs]
        out.append((0, 0, tx, ty, "uint8", None, mblock.tobytes()))
    return out


def nearblack(tiles_df: DataFrame, width: int, height: int,
              tile: int = TILE, near_dist: int = 15, max_non_black: int = 2,
              near_white: bool = False, colors=None) -> DataFrame:
    """Distributed GDALNearblack over the tile table (uint8 bands).

    Returns the tile table with collar pixels set to the exact black/white
    value plus a mask band (band 0: 255 valid, 0 collar)."""
    spark = tiles_df.sparkSession
    repl_value = 255 if near_white else 0
    max_nb = int(max_non_black)
    n_strips = -(-height // tile)

    def strip_rows(ty: int) -> int:
        return min(tile, height - ty * tile)

    def fixed_colors(nbands: int):
        if colors is not None:
            return [tuple(int(v) for v in c) for c in colors]
        return [tuple([repl_value] * nbands)]

    # ---- phase A: per-strip per-column non-near counts on the source ----
    a_schema = T.StructType([
        T.StructField("tile_y", T.LongType()),
        T.StructField("k", T.BinaryType()),         # int32[width]
        T.StructField("edge_nb", T.BinaryType()),   # uint8[width], edge row
    ])

    def phase_a(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ty = int(key[0])
        rows = strip_rows(ty)
        bands, vals = _strip_arrays(pdf, width, rows, tile)
        near = _near_mask(vals, fixed_colors(len(bands)), near_dist)
        k = (~near).sum(axis=0).astype(np.int32)
        edge = (~near[0]).astype(np.uint8)          # used iff ty == 0
        return pd.DataFrame({"tile_y": [ty], "k": [k.tobytes()],
                             "edge_nb": [edge.tobytes()]})

    summaries1 = tiles_df.groupBy("tile_y").applyInPandas(phase_a, a_schema)

    # ---- fold: compose entering counters across strips (one tiny task) ----
    e_schema = T.StructType([
        T.StructField("tile_y", T.LongType()),
        T.StructField("enter", T.BinaryType()),     # int32[width]
    ])

    def make_fold(bottom_up: bool):
        def fold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("tile_y", ascending=not bottom_up)
            enter = np.zeros(width, dtype=np.int64)
            out_ty, out_e = [], []
            for i, (_, r) in enumerate(pdf.iterrows()):
                out_ty.append(int(r["tile_y"]))
                out_e.append(enter.astype(np.int32).tobytes())
                k = np.frombuffer(r["k"], dtype=np.int32).astype(np.int64)
                exit_ = np.minimum(enter + k, max_nb + 1)
                if i == 0 and max_nb > 0:
                    # first processed line of the raster: non-near values
                    # freeze the column at max+1 immediately
                    edge = np.frombuffer(r["edge_nb"], dtype=np.uint8)
                    exit_ = np.where(edge > 0, max_nb + 1, exit_)
                enter = exit_
            return pd.DataFrame({"tile_y": out_ty, "enter": out_e})
        return fold

    enters1 = summaries1.groupBy(F.lit("all").alias("_g")).applyInPandas(
        make_fold(bottom_up=False), e_schema)

    # ---- phase B: exact pass-1 replay per strip ----
    b_schema = T.StructType(TILE_SCHEMA.fields + [
        T.StructField("k2", T.BinaryType()),
        T.StructField("edge_nb2", T.BinaryType()),
    ])

    def phase_b(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ty = int(key[0])
        rows = strip_rows(ty)
        enter = np.frombuffer(pdf["enter"].iloc[0], dtype=np.int32)
        tdf = pdf[pdf["band"].notna()]
        bands, vals = _strip_arrays(tdf, width, rows, tile)
        cols = fixed_colors(len(bands))
        near = _near_mask(vals, cols, near_dist)
        counts_h, vrepl = _vertical_counts(near, enter, max_nb,
                                           edge_strip=(ty == 0))
        mask = np.full((rows, width), 255, dtype=np.uint8)
        vals[:, vrepl] = repl_value
        mask[vrepl] = 0
        _horizontal_scan(vals, mask, counts_h, cols, near_dist, max_nb,
                         repl_value, reverse=False)
        _horizontal_scan(vals, mask, counts_h, cols, near_dist, max_nb,
                         repl_value, reverse=True)
        near1 = _near_mask(vals, cols, near_dist)
        k2 = (~near1).sum(axis=0).astype(np.int32)
        edge2 = (~near1[rows - 1]).astype(np.uint8)  # bottom-up edge row
        out = _emit_tiles(vals, mask, bands, ty, width, rows, tile)
        odf = pd.DataFrame(out, columns=[f.name for f in TILE_SCHEMA.fields])
        odf["k2"] = None
        odf["edge_nb2"] = None
        srow = {f.name: None for f in TILE_SCHEMA.fields}
        srow.update({"band": -1, "zoom": 0, "tile_x": -1, "tile_y": ty,
                     "dtype": "uint8", "px": b"",
                     "k2": k2.tobytes(), "edge_nb2": edge2.tobytes()})
        return pd.concat([odf, pd.DataFrame([srow])], ignore_index=True)

    joined1 = tiles_df.join(enters1, "tile_y")
    pass1 = joined1.groupBy("tile_y").applyInPandas(phase_b, b_schema)
    pass1 = pass1.localCheckpoint(eager=False)

    summaries2 = pass1.where(F.col("band") == -1) \
        .select("tile_y", F.col("k2").alias("k"),
                F.col("edge_nb2").alias("edge_nb"))
    enters2 = summaries2.groupBy(F.lit("all").alias("_g")).applyInPandas(
        make_fold(bottom_up=True), e_schema)

    # ---- phase C: exact pass-2 replay (bottom-up, horizontal max=0) ----
    def phase_c(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ty = int(key[0])
        rows = strip_rows(ty)
        enter = np.frombuffer(pdf["enter"].iloc[0], dtype=np.int32)
        tdf = pdf[pdf["band"] > 0]
        bands, vals = _strip_arrays(tdf, width, rows, tile)
        mdf = pdf[pdf["band"] == 0]
        _, mvals = _strip_arrays(mdf, width, rows, tile)
        mask = mvals[0]
        cols = fixed_colors(len(bands))
        near1 = _near_mask(vals, cols, near_dist)
        # processing order is bottom-up: flip rows, replay, flip back
        counts_h, vrepl = _vertical_counts(
            near1[::-1], enter, max_nb,
            edge_strip=(ty == n_strips - 1))
        vals_f = vals[:, ::-1, :]
        mask_f = mask[::-1, :]
        vals_f[:, vrepl] = repl_value
        mask_f[vrepl] = 0
        # bBottomUp forces nMaxNonBlack=0 for the horizontal scans only
        _horizontal_scan(vals_f, mask_f, counts_h, cols, near_dist, 0,
                         repl_value, reverse=False)
        _horizontal_scan(vals_f, mask_f, counts_h, cols, near_dist, 0,
                         repl_value, reverse=True)
        out = _emit_tiles(vals_f[:, ::-1, :], mask_f[::-1, :], bands, ty,
                          width, rows, tile)
        return pd.DataFrame(out, columns=[f.name for f in TILE_SCHEMA.fields])

    joined2 = pass1.where(F.col("band") >= 0) \
        .drop("k2", "edge_nb2").join(enters2, "tile_y")
    return joined2.groupBy("tile_y").applyInPandas(phase_c, TILE_SCHEMA)
