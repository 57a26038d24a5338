"""Contour lines from a DEM tile table (gdal_contour).

Re-expresses GDALContourGenerate (/root/reference/alg/contour.cpp +
alg/marching_squares/*.h — per-cell marching squares with linear
interpolation) as a halo-exchange tile job:

    tiles -> 1-px halo exchange (shared with the DEM stencils)
          -> per-tile marching squares over cells whose TOP-LEFT pixel is
             local (each cell computed exactly once across the cluster)
          -> segment table (level, x0, y0, x1, y1) in global pixel coords

Cross-tile polyline ASSEMBLY (the reference's ring builder,
alg/marching_squares/polygon_ring_appender.h) is inherently sequential per
ring; the distributed contract is the segment set — deterministic,
tiling-invariant, and sufficient for length/count analytics or a bounded
driver-side assembly. Saddle cells resolve by the cell-center mean, the
reference's default.

Coordinates: pixel CENTERS at integer (x, y) = (tile_x*tile + i,
tile_y*tile + j); a segment endpoint interpolates between two adjacent
centers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dem import _HALO_SCHEMA, _assemble_padded, _emit_halo

_SEG_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("level", T.DoubleType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
])


def _cell_segments(v00, v01, v10, v11, level):
    """Marching-squares segments for one cell; corners: v00=(x,y),
    v01=(x+1,y), v10=(x,y+1), v11=(x+1,y+1). Local coords within the cell;
    returns list of ((ax, ay), (bx, by))."""
    b00, b01, b10, b11 = (v00 >= level), (v01 >= level), \
        (v10 >= level), (v11 >= level)
    idx = (b00 << 3) | (b01 << 2) | (b11 << 1) | b10
    if idx in (0, 15):
        return []

    def t(a, b):
        # edges are computed eagerly for the table lookup; a same-class edge
        # (a == b possible) is never SELECTED by a case, value irrelevant
        return (level - a) / (b - a) if b != a else 0.5

    top = (t(v00, v01), 0.0)
    bot = (t(v10, v11), 1.0)
    left = (0.0, t(v00, v10))
    right = (1.0, t(v01, v11))
    table = {
        1: [(left, bot)], 14: [(left, bot)],
        2: [(bot, right)], 13: [(bot, right)],
        3: [(left, right)], 12: [(left, right)],
        4: [(top, right)], 11: [(top, right)],
        6: [(top, bot)], 9: [(top, bot)],
        7: [(left, top)], 8: [(left, top)],
    }
    if idx in table:
        return table[idx]
    # saddles: disambiguate via center mean (bit layout
    # idx = TL<<3 | TR<<2 | BR<<1 | BL)
    center_hi = (v00 + v01 + v10 + v11) / 4.0 >= level
    if idx == 10:       # TL and BR high
        return [(left, top), (bot, right)] if not center_hi \
            else [(left, bot), (top, right)]
    if idx == 5:        # TR and BL high
        return [(left, bot), (top, right)] if not center_hi \
            else [(left, top), (bot, right)]
    return []


def contour_segments(tiles_df: DataFrame, levels: list[float],
                     tile: int = 256) -> DataFrame:
    """-> segment DataFrame (band, zoom, level, x0, y0, x1, y1)."""
    halo = tiles_df.mapInPandas(lambda it: _emit_halo(it, tile), _HALO_SCHEMA)

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pad = _assemble_padded(pdf, tile)
        if pad is None:
            return pd.DataFrame(columns=[f.name for f in _SEG_SCHEMA.fields])
        got = {(-int(r.dx), -int(r.dy)) for r in pdf.itertuples()}
        band, zoom, tx, ty = int(key[0]), int(key[1]), int(key[2]), int(key[3])
        # cells with top-left pixel local: padded coords (1..tile, 1..tile);
        # the last column/row of cells needs the right/bottom neighbor — if
        # absent (raster edge), those cells do not exist globally
        nx = tile if (1, 0) in got else tile - 1
        ny = tile if (0, 1) in got else tile - 1
        out = []
        core = pad[1:ny + 2, 1:nx + 2]
        for level in levels:
            hi = core >= level
            mixed = (hi[:-1, :-1] | hi[:-1, 1:] | hi[1:, :-1] | hi[1:, 1:]) \
                & ~(hi[:-1, :-1] & hi[:-1, 1:] & hi[1:, :-1] & hi[1:, 1:])
            ys, xs = np.nonzero(mixed)
            for j, i in zip(ys, xs):
                segs = _cell_segments(
                    float(core[j, i]), float(core[j, i + 1]),
                    float(core[j + 1, i]), float(core[j + 1, i + 1]),
                    float(level))
                gx = tx * tile + i
                gy = ty * tile + j
                for (ax, ay), (bx, by) in segs:
                    out.append((band, zoom, float(level),
                                gx + ax, gy + ay, gx + bx, gy + by))
        return pd.DataFrame(out, columns=[f.name for f in _SEG_SCHEMA.fields])

    return halo.groupBy("band", "zoom", "tile_x", "tile_y") \
        .applyInPandas(build, _SEG_SCHEMA)


def contour_stats(tiles_df: DataFrame, levels: list[float],
                  tile: int = 256) -> DataFrame:
    """Per-level segment count + total length (the aggregate analytics a
    100 TB DEM run would persist)."""
    seg = contour_segments(tiles_df, levels, tile)
    dx = F.col("x1") - F.col("x0")
    dy = F.col("y1") - F.col("y0")
    return (seg.groupBy("band", "zoom", "level")
            .agg(F.count("*").alias("n_segments"),
                 F.sum(F.sqrt(dx * dx + dy * dy)).alias("total_len")))


def assemble_polylines(segments, digits: int = 9):
    """Driver-side bounded post-pass: link a level's segment set into
    polylines/rings (the reference's ring builder,
    alg/marching_squares/polygon_ring_appender.h, run once per level over
    the COLLECTED segments — appropriate when the per-level segment count
    is bounded; the distributed contract remains the segment set).

    segments: iterable of (x0, y0, x1, y1). Returns a list of vertex lists;
    a closed ring repeats its first vertex at the end.
    """
    from collections import defaultdict

    def key(x, y):
        return (round(x, digits), round(y, digits))

    adj = defaultdict(list)
    segs = []
    for x0, y0, x1, y1 in segments:
        i = len(segs)
        segs.append(((x0, y0), (x1, y1)))
        adj[key(x0, y0)].append(i)
        adj[key(x1, y1)].append(i)
    used = [False] * len(segs)
    out = []
    # open chains first (endpoints of degree 1), then remaining cycles
    starts = [k for k, v in adj.items() if len(v) == 1]
    for phase in (0, 1):
        seeds = starts if phase == 0 else list(adj.keys())
        for seed in seeds:
            nxt = [i for i in adj[seed] if not used[i]]
            if not nxt:
                continue
            i = nxt[0]
            used[i] = True
            a, b = segs[i]
            if key(*a) != seed:
                a, b = b, a
            line = [a, b]
            while True:
                k = key(*line[-1])
                cand = [j for j in adj[k] if not used[j]]
                if not cand:
                    break
                j = cand[0]
                used[j] = True
                p, q = segs[j]
                line.append(q if key(*p) == k else p)
                if key(*line[-1]) == key(*line[0]):
                    break
            out.append(line)
    return out


def contour_polygons(tiles_df: DataFrame, levels: list[float],
                     tile: int = 256, nodata: float | None = None
                     ) -> DataFrame:
    """gdal_contour -p (polygon mode, alg/contour.cpp polygon writer):
    polygons covering each level band [levels[k-1], levels[k]).

    Implementation: classify every pixel into its band index (one
    searchsorted per tile — pure map), then trace the band regions with the
    polygonize ring tracer (holes included, halo-correct across seams).
    Band boundaries are therefore PIXEL-quantized rather than sub-pixel
    interpolated like the reference's marching-squares polygon writer — the
    smooth isolines remain available as contour_segments; band areas agree
    with the reference to one pixel along each boundary (documented
    divergence). Output: (comp_id, band, zoom, level_min, level_max,
    geom WKB) with one row per connected band region, in pixel coords.
    """
    from .polygonize import polygonize_polygons
    from .tiles import TILE_SCHEMA, decode_px, encode_px

    lv = sorted(levels)

    def classify(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, tile)
                if nodata is not None and not np.isnan(nodata):
                    valid = arr != np.array(nodata, arr.dtype)
                else:
                    valid = np.ones_like(arr, dtype=bool)
                band = np.searchsorted(lv, arr, side="right") \
                    .astype(np.float64)
                band[~valid] = -1.0
                out.append((r.band, r.zoom, r.tile_x, r.tile_y,
                            "float64", -1.0, encode_px(band)))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields]) \
                if out else pd.DataFrame(columns=[f.name for f in
                                                  TILE_SCHEMA.fields])

    classified = tiles_df.mapInPandas(classify, TILE_SCHEMA)
    polys = polygonize_polygons(classified, tile=tile, nodata=-1.0)
    bidx = F.col("value").cast("int")
    lo = F.array(*[F.lit(float("-inf"))]
                 + [F.lit(float(v)) for v in lv])
    hi = F.array(*[F.lit(float(v)) for v in lv]
                 + [F.lit(float("inf"))])
    return polys.select(
        "comp_id", "band", "zoom",
        F.element_at(lo, bidx + 1).alias("level_min"),
        F.element_at(hi, bidx + 1).alias("level_max"),
        "geom")


# ---------------------------------------------------------------------------
# sub-pixel contour POLYGONS (gdal_contour -p, alg/contour.cpp polygon
# writer): oriented marching segments + raster-border closure -> closed
# level-region rings -> band polygons. The segment/border generation is the
# same distributed halo job as contour_segments; ring assembly is the
# documented bounded driver-side post-pass (polygon_ring_appender.h).
# ---------------------------------------------------------------------------

# directed variants of the marching table: HIGH (v >= level) region on the
# LEFT of each segment (left = CCW normal), so level-region shells come out
# with positive shoelace and low pockets negative
_ORIENTED = {
    1: [("L", "B")], 14: [("B", "L")],
    2: [("B", "R")], 13: [("R", "B")],
    4: [("R", "T")], 11: [("T", "R")],
    8: [("T", "L")], 7: [("L", "T")],
    3: [("L", "R")], 12: [("R", "L")],
    6: [("B", "T")], 9: [("T", "B")],
}


def _cell_segments_oriented(v00, v01, v10, v11, level):
    b00, b01, b10, b11 = (v00 >= level), (v01 >= level), \
        (v10 >= level), (v11 >= level)
    idx = (b00 << 3) | (b01 << 2) | (b11 << 1) | b10
    if idx in (0, 15):
        return []

    def t(a, b):
        return (level - a) / (b - a) if b != a else 0.5

    pt = {"T": (t(v00, v01), 0.0), "B": (t(v10, v11), 1.0),
          "L": (0.0, t(v00, v10)), "R": (1.0, t(v01, v11))}
    if idx in _ORIENTED:
        names = _ORIENTED[idx]
    else:
        center_hi = (v00 + v01 + v10 + v11) / 4.0 >= level
        if idx == 10:       # TL and BR high
            names = [("B", "L"), ("T", "R")] if center_hi \
                else [("T", "L"), ("B", "R")]
        else:               # idx == 5: TR and BL high
            names = [("L", "T"), ("R", "B")] if center_hi \
                else [("L", "B"), ("R", "T")]
    return [(pt[a], pt[b]) for a, b in names]


def region_segments(tiles_df: DataFrame, levels: list[float],
                    tile: int = 256) -> DataFrame:
    """Directed boundary segments of every level REGION {v >= level}:
    oriented marching segments + the raster-border closure pieces (border
    sub-intervals where the edge values reach the level, walked with the
    raster interior on the left). Tiling-invariant; rings close exactly."""
    halo = tiles_df.mapInPandas(lambda it: _emit_halo(it, tile),
                                _HALO_SCHEMA)

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pad = _assemble_padded(pdf, tile)
        cols = [f.name for f in _SEG_SCHEMA.fields]
        if pad is None:
            return pd.DataFrame(columns=cols)
        got = {(-int(r.dx), -int(r.dy)) for r in pdf.itertuples()}
        band, zoom, tx, ty = (int(key[0]), int(key[1]),
                              int(key[2]), int(key[3]))
        nx = tile if (1, 0) in got else tile - 1
        ny = tile if (0, 1) in got else tile - 1
        core = pad[1:ny + 2, 1:nx + 2]
        out = []
        for level in levels:
            if np.isfinite(level):
                hi = core >= level
                mixed = (hi[:-1, :-1] | hi[:-1, 1:] | hi[1:, :-1]
                         | hi[1:, 1:]) \
                    & ~(hi[:-1, :-1] & hi[:-1, 1:] & hi[1:, :-1]
                        & hi[1:, 1:])
                ys, xs = np.nonzero(mixed)
                for j, i in zip(ys, xs):
                    for (ax, ay), (bx, by) in _cell_segments_oriented(
                            float(core[j, i]), float(core[j, i + 1]),
                            float(core[j + 1, i]),
                            float(core[j + 1, i + 1]), float(level)):
                        out.append((band, zoom, float(level),
                                    tx * tile + i + ax, ty * tile + j + ay,
                                    tx * tile + i + bx, ty * tile + j + by))
            # border pieces: sides of THIS tile that are raster borders
            gx0, gy0 = tx * tile, ty * tile

            def border_run(pts_vals, coords, reverse):
                """pts_vals: values along the border lattice; coords:
                (x, y) per lattice point IN WALK ORDER."""
                v = pts_vals[::-1] if reverse else pts_vals
                c = coords[::-1] if reverse else coords
                for k in range(len(v) - 1):
                    vi, vj = float(v[k]), float(v[k + 1])
                    (x0, y0), (x1, y1) = c[k], c[k + 1]
                    if not np.isfinite(level):
                        out.append((band, zoom, float(level),
                                    x0, y0, x1, y1))
                        continue
                    if vi >= level and vj >= level:
                        out.append((band, zoom, float(level),
                                    x0, y0, x1, y1))
                    elif vi >= level > vj:
                        tt = (level - vi) / (vj - vi)
                        out.append((band, zoom, float(level), x0, y0,
                                    x0 + tt * (x1 - x0),
                                    y0 + tt * (y1 - y0)))
                    elif vj >= level and vi < level:
                        tt = (level - vi) / (vj - vi)
                        out.append((band, zoom, float(level),
                                    x0 + tt * (x1 - x0),
                                    y0 + tt * (y1 - y0), x1, y1))

            n_loc = core.shape[1]
            m_loc = core.shape[0]
            if (0, -1) not in got:      # north border: walk west -> east
                coords = [(gx0 + i, gy0 + 0) for i in range(n_loc)]
                border_run(core[0, :], coords, reverse=False)
            if (0, 1) not in got:       # south border: east -> west
                coords = [(gx0 + i, gy0 + m_loc - 1) for i in range(n_loc)]
                border_run(core[m_loc - 1, :], coords, reverse=True)
            if (-1, 0) not in got:      # west border: south -> north
                coords = [(gx0 + 0, gy0 + j) for j in range(m_loc)]
                border_run(core[:, 0], coords, reverse=True)
            if (1, 0) not in got:       # east border: north -> south
                coords = [(gx0 + n_loc - 1, gy0 + j) for j in range(m_loc)]
                border_run(core[:, n_loc - 1], coords, reverse=False)
        return pd.DataFrame(out, columns=cols)

    return halo.groupBy("band", "zoom", "tile_x", "tile_y") \
        .applyInPandas(build, _SEG_SCHEMA)


def _link_directed(segs, digits: int = 9):
    """Directed segments -> closed rings (driver-side bounded post-pass)."""
    outgoing = {}

    def key(x, y):
        return (round(x, digits), round(y, digits))

    for i, (x0, y0, x1, y1) in enumerate(segs):
        if key(x0, y0) == key(x1, y1):
            continue
        outgoing.setdefault(key(x0, y0), []).append(i)
    used = [False] * len(segs)
    rings = []
    for i0 in range(len(segs)):
        if used[i0] or i0 not in outgoing.get(key(segs[i0][0],
                                                  segs[i0][1]), []):
            continue
        ring = [(segs[i0][0], segs[i0][1])]
        cur = i0
        start = key(segs[i0][0], segs[i0][1])
        for _ in range(len(segs) + 2):
            used[cur] = True
            outgoing[key(segs[cur][0], segs[cur][1])].remove(cur)
            end = (segs[cur][2], segs[cur][3])
            ring.append(end)
            if key(*end) == start:
                rings.append(np.array(ring))
                break
            cands = [j for j in outgoing.get(key(*end), []) if not used[j]]
            if not cands:
                break
            cur = cands[0]
    return rings


# ---------------------------------------------------------------------------
# DISTRIBUTED ring assembly for the sub-pixel polygon writer (round-3 fix
# for the driver-side region_segments().collect() post-pass):
#   stage 1  per-(level, tile-block) local linking -> closed rings + open
#            boundary-crossing fragments (applyInPandas)
#   stage 2  connected components over fragments sharing endpoint keys —
#            min-label propagation + pointer jumping (O(log) rounds)
#   stage 3  groupBy(level, component) fragment -> ring concatenation
#   stage 4  groupBy(band) shell/hole nesting -> one geometry per level band
# Only rings (not segments) ever converge into one task, and only per
# component/band — nothing raster-sized touches the driver.
# ---------------------------------------------------------------------------

_FRAG_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("level", T.DoubleType()),
    T.StructField("closed", T.BooleanType()),
    T.StructField("k0", T.StringType()),
    T.StructField("k1", T.StringType()),
    T.StructField("xy", T.BinaryType()),       # float64 (n,2) row-major
    T.StructField("area", T.DoubleType()),     # shoelace; 0 for open frags
])

_RING_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("level", T.DoubleType()),
    T.StructField("xy", T.BinaryType()),
    T.StructField("area", T.DoubleType()),
])

_BAND_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("band_idx", T.IntegerType()),
    T.StructField("geom", T.BinaryType()),
])


def _pkey(x, y, digits: int = 9) -> str:
    """Stable string key for a (possibly interpolated) lattice point."""
    x = round(float(x), digits)
    y = round(float(y), digits)
    if x == 0:
        x = 0.0                      # normalize -0.0
    if y == 0:
        y = 0.0
    return f"{x:.{digits}f}:{y:.{digits}f}"


def _link_directed_all(segs, digits: int = 9):
    """Directed segments -> (closed rings, open chains) as vertex lists.
    Same walk as _link_directed but keeps the open chains (they continue
    in a neighboring block and become fragments)."""
    def key(x, y):
        return _pkey(x, y, digits)

    outgoing: dict = {}
    indeg: dict = {}
    for i, (x0, y0, x1, y1) in enumerate(segs):
        if key(x0, y0) == key(x1, y1):
            continue
        outgoing.setdefault(key(x0, y0), []).append(i)
        k1 = key(x1, y1)
        indeg[k1] = indeg.get(k1, 0) + 1
    used = set()

    def walk(i):
        pts = [(segs[i][0], segs[i][1]), (segs[i][2], segs[i][3])]
        used.add(i)
        outgoing[key(segs[i][0], segs[i][1])].remove(i)
        start = key(*pts[0])
        while True:
            k = key(*pts[-1])
            if k == start:
                pts[-1] = pts[0]     # snap exact ring closure
                return pts, True
            cands = outgoing.get(k, [])
            if not cands:
                return pts, False
            j = cands[0]
            used.add(j)
            cands.remove(j)
            pts.append((segs[j][2], segs[j][3]))

    rings, chains = [], []
    # open chains first (start where outdegree exceeds indegree), then
    # the remaining pure cycles
    starts = [k for k, v in outgoing.items() if len(v) > indeg.get(k, 0)]
    for k in starts:
        while outgoing.get(k):
            pts, closed = walk(outgoing[k][0])
            (rings if closed else chains).append(pts)
    for i in range(len(segs)):
        if i not in used and i in outgoing.get(key(segs[i][0],
                                                   segs[i][1]), []):
            pts, closed = walk(i)
            (rings if closed else chains).append(pts)
    return rings, chains


from ..core.geomops import ring_area as _shoelace  # noqa: E402 — one
# canonical signed-shoelace lives in core.geomops


def region_fragments(tiles_df: DataFrame, levels: list[float],
                     tile: int = 256) -> DataFrame:
    """Stage 1: per-(level, block) local linking of the directed region
    segments into closed rings + open fragments."""
    seg = region_segments(tiles_df, levels, tile) \
        .withColumn("bx", F.floor(F.col("x0") / tile)) \
        .withColumn("by", F.floor(F.col("y0") / tile))

    cols = [f.name for f in _FRAG_SCHEMA.fields]

    def link(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, zoom, level = int(key[0]), int(key[1]), float(key[2])
        segs = list(zip(pdf["x0"], pdf["y0"], pdf["x1"], pdf["y1"]))
        rings, chains = _link_directed_all(segs)
        rows = []
        for pts in rings:
            a = np.asarray(pts, np.float64)
            rows.append((band, zoom, level, True, "", "",
                         a.tobytes(), _shoelace(a)))
        for pts in chains:
            a = np.asarray(pts, np.float64)
            rows.append((band, zoom, level, False,
                         _pkey(*pts[0]), _pkey(*pts[-1]),
                         a.tobytes(), 0.0))
        return pd.DataFrame(rows, columns=cols) if rows \
            else pd.DataFrame(columns=cols)

    return seg.groupBy("band", "zoom", "level", "bx", "by") \
        .applyInPandas(link, _FRAG_SCHEMA)


def _fragment_components(open_frags: DataFrame,
                         max_rounds: int = 32) -> DataFrame:
    """Stage 2: (fid, comp) connected components over fragments that share
    an endpoint key — min-label propagation through the key groups plus a
    pointer-jump per round, so chains of F fragments converge in O(log F)
    rounds, not O(F)."""
    kf = open_frags.select(
        "fid", F.explode(F.array(
            F.concat_ws("@", F.col("band").cast("string"),
                        F.col("zoom").cast("string"),
                        F.col("level").cast("string"), "k0"),
            F.concat_ws("@", F.col("band").cast("string"),
                        F.col("zoom").cast("string"),
                        F.col("level").cast("string"), "k1"))).alias("pk")) \
        .localCheckpoint()
    lbl = open_frags.select("fid").withColumn("comp", F.col("fid"))
    for _ in range(max_rounds):
        lbl = lbl.localCheckpoint()
        kmin = (kf.join(lbl, "fid")
                .groupBy("pk").agg(F.min("comp").alias("kmin")))
        nmin = (kf.join(kmin, "pk")
                .groupBy("fid").agg(F.min("kmin").alias("nmin")))
        new = (lbl.withColumnRenamed("comp", "old")
               .join(nmin, "fid", "left")
               .select("fid", "old", F.least("old", F.coalesce(
                   "nmin", F.lit(1 << 62))).alias("comp")))
        jump = new.select(F.col("fid").alias("comp"),
                          F.col("comp").alias("comp2"))
        new = (new.join(jump, "comp", "left")
               .select("fid", "old",
                       F.coalesce("comp2", "comp").alias("comp")))
        changed = new.where(F.col("old") != F.col("comp")).limit(1).count()
        lbl = new.select("fid", "comp")
        if changed == 0:
            break
    return lbl


def region_rings(tiles_df: DataFrame, levels: list[float],
                 tile: int = 256) -> DataFrame:
    """Stages 1-3: -> (band, zoom, level, xy, area) with one row per
    closed region ring, fully distributed."""
    frags = region_fragments(tiles_df, levels, tile).localCheckpoint()
    closed = frags.where(F.col("closed")) \
        .select("band", "zoom", "level", "xy", "area")
    open_ = frags.where(~F.col("closed")) \
        .withColumn("fid", F.monotonically_increasing_id()) \
        .localCheckpoint()
    lbl = _fragment_components(open_)
    linked = open_.join(lbl, "fid")

    cols = [f.name for f in _RING_SCHEMA.fields]

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, zoom, level = int(key[0]), int(key[1]), float(key[2])
        n = len(pdf)
        k0s = list(pdf["k0"])
        k1s = list(pdf["k1"])
        coords = [np.frombuffer(b, np.float64).reshape(-1, 2)
                  for b in pdf["xy"]]
        outgoing: dict = {}
        for i, k in enumerate(k0s):
            outgoing.setdefault(k, []).append(i)
        used = set()
        rows = []
        for s in range(n):
            if s in used:
                continue
            path = [s]
            used.add(s)
            outgoing[k0s[s]].remove(s)
            while True:
                end = k1s[path[-1]]
                if end == k0s[s]:
                    pts = np.vstack([coords[path[0]]]
                                    + [coords[j][1:] for j in path[1:]])
                    pts[-1] = pts[0]          # snap exact closure
                    rows.append((band, zoom, level, pts.tobytes(),
                                 _shoelace(pts)))
                    break
                cands = outgoing.get(end, [])
                if not cands:
                    break                      # open across the raster: drop
                j = cands[0]
                used.add(j)
                cands.remove(j)
                path.append(j)
        return pd.DataFrame(rows, columns=cols) if rows \
            else pd.DataFrame(columns=cols)

    open_rings = linked.groupBy("band", "zoom", "level", "comp") \
        .applyInPandas(assemble, _RING_SCHEMA)
    return closed.unionByName(open_rings)


def contour_polygon_bands(tiles_df: DataFrame, levels: list[float],
                          tile: int = 256) -> DataFrame:
    """Stage 4: -> (band, zoom, band_idx, geom WKB) — one polygon (with
    holes) per level band [all_levels[k], all_levels[k+1]), sub-pixel
    interpolated, assembled per band in its own task."""
    from ..core import wkb as _wkb
    from ..core.geomops import points_in_ring

    lv = sorted(levels)
    all_levels = [float("-inf")] + [float(v) for v in lv]
    rings = region_rings(tiles_df, all_levels, tile)

    jcol = None
    for j, lev in enumerate(all_levels):
        cond = F.col("level") == F.lit(float(lev))   # -inf compares exactly
        jcol = F.when(cond, F.lit(j)) if jcol is None \
            else jcol.when(cond, F.lit(j))
    rings = rings.withColumn("j", jcol)
    fwd = rings.withColumn("band_idx", F.col("j")) \
        .withColumn("rev", F.lit(False))
    rev = rings.where(F.col("j") >= 1) \
        .withColumn("band_idx", F.col("j") - 1) \
        .withColumn("rev", F.lit(True))
    both = fwd.unionByName(rev) \
        .select("band", "zoom", "band_idx", "xy", "area", "rev")

    cols = [f.name for f in _BAND_SCHEMA.fields]

    def build_band(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, zoom, bidx = int(key[0]), int(key[1]), int(key[2])
        rings_ = []
        for r in pdf.itertuples():
            pts = np.frombuffer(r.xy, np.float64).reshape(-1, 2)
            if r.rev:
                pts = pts[::-1]
            rings_.append(pts)
        shells = sorted([p for p in rings_ if _shoelace(p) > 0],
                        key=lambda p: abs(_shoelace(p)))
        holes = [p for p in rings_ if _shoelace(p) < 0]
        if not shells:
            return pd.DataFrame(columns=cols)
        polys = [[p] for p in shells]
        for h in holes:
            for cand in polys:
                if points_in_ring(h[:1, 0], h[:1, 1], cand[0])[0]:
                    cand.append(h)
                    break
            else:
                polys[-1].append(h)
        if len(polys) == 1:
            g = _wkb.Geom(_wkb.POLYGON, polys[0])
        else:
            g = _wkb.Geom(_wkb.MULTIPOLYGON,
                          parts=[_wkb.Geom(_wkb.POLYGON, rs)
                                 for rs in polys])
        return pd.DataFrame([(band, zoom, bidx, _wkb.encode(g))],
                            columns=cols)

    return both.groupBy("band", "zoom", "band_idx") \
        .applyInPandas(build_band, _BAND_SCHEMA)


def contour_polygons_interp(tiles_df: DataFrame, levels: list[float],
                            tile: int = 256):
    """Sub-pixel contour band polygons (gdal_contour -p with linear
    interpolation): band k spans [levels[k-1], levels[k]) and its rings
    are region(lo) shells + region(hi) rings reversed — even-odd shell/
    hole assignment. Returns [(level_min, level_max, Geom)].

    Assembly is fully distributed (contour_polygon_bands — per-block
    linking, fragment CC, per-band nesting); only the finished band
    geometries are collected here for the list-shaped convenience API."""
    from ..core import wkb as _wkb

    lv = sorted(levels)
    all_levels = [float("-inf")] + [float(v) for v in lv]
    rows = contour_polygon_bands(tiles_df, levels, tile).collect()
    out = []
    for r in sorted(rows, key=lambda r: (r.band, r.zoom, r.band_idx)):
        lo = all_levels[r.band_idx]
        hi = all_levels[r.band_idx + 1] \
            if r.band_idx + 1 < len(all_levels) else float("inf")
        out.append((lo, hi, _wkb.decode(bytes(r.geom))))
    return out
