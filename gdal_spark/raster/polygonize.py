"""Distributed polygonize: raster -> vector regions of equal pixel value.

Re-expresses GDALPolygonize (/root/reference/alg/polygonize.cpp:170
GDALPolygonizeT — two-row rolling connected-component merge, ring tracing in
alg/polygonize_polygons.cpp) as a Spark-native three-stage job:

    1. per-tile labeling      applyInPandas(tile) -> local components +
                              per-edge boundary strips
    2. cross-tile merge       equi-join of facing edge strips (same value,
                              adjacent pixel) -> component-graph edges ->
                              iterative min-label propagation (hash-to-min,
                              O(log n) rounds over the TINY component graph,
                              never over pixels)
    3. aggregate              groupBy(component) -> value, pixel count, bbox

The reference emits traced boundary rings; tracing a ring that spans many
tiles is inherently sequential, so at cluster scale we keep the vector
output pixel-accurate but un-dissolved: per component we return value,
n_pixels and the pixel-space envelope (rings per tile can be assembled
downstream if a true ring is needed for a bounded component). Connectivity
is 4 (the reference's default; 8-connect is the CONNECTED=8 option).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import decode_px


def _label_tile(arr: np.ndarray, valid: np.ndarray,
                connect: int = 4) -> np.ndarray:
    """4- or 8-connected components of equal-valued valid pixels
    (alg/polygonize.cpp:485 CONNECTED=8 option).

    Vectorized min-label propagation with pointer jumping — O(log diameter)
    rounds of whole-array numpy ops, no per-pixel Python. Returns int64
    labels (flat pixel index of the component minimum) with -1 for invalid.
    """
    h, w = arr.shape
    lbl = np.where(valid, np.arange(h * w, dtype=np.int64).reshape(h, w),
                   np.int64(-1))
    while True:
        new = lbl.copy()
        # neighbor minima where the neighbor holds the same value
        pairs = [((slice(0, h - 1), slice(None)), (slice(1, h), slice(None))),
                 ((slice(None), slice(0, w - 1)), (slice(None), slice(1, w)))]
        if connect == 8:
            pairs += [((slice(0, h - 1), slice(0, w - 1)),
                       (slice(1, h), slice(1, w))),
                      ((slice(0, h - 1), slice(1, w)),
                       (slice(1, h), slice(0, w - 1)))]
        for a, b in pairs:
            same = valid[a] & valid[b] & (arr[a] == arr[b])
            m = np.minimum(new[a], new[b])
            # np.minimum against the CURRENT value (not plain overwrite):
            # a and b overlap, so a stale m could otherwise RAISE a label
            # another pair just lowered — breaking monotonicity and stalling
            # the fixpoint one merge short
            new[a] = np.where(same, np.minimum(new[a], m), new[a])
            new[b] = np.where(same, np.minimum(new[b], m), new[b])
        # pointer jumping: label of my label
        flat = new.ravel()
        ok = flat >= 0
        flat[ok] = flat[flat[ok]]
        if np.array_equal(new, lbl):
            return lbl
        lbl = new


_COMP_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("label", T.LongType()),       # tile-local component label
    T.StructField("value", T.DoubleType()),
    T.StructField("n_pixels", T.LongType()),
    T.StructField("px_xmin", T.LongType()),     # global pixel-space bbox
    T.StructField("px_ymin", T.LongType()),
    T.StructField("px_xmax", T.LongType()),
    T.StructField("px_ymax", T.LongType()),
    # canonical order key: (global_y << 32) | global_x of the component's
    # topmost-leftmost pixel — an id-scheme-independent row-major rank used
    # by consumers (sieve) for deterministic, reference-comparable tie-breaks
    T.StructField("canon", T.LongType()),
])

_EDGE_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("label", T.LongType()),
    T.StructField("side", T.StringType()),      # E or S (each pair once)
    T.StructField("offset", T.IntegerType()),   # row (E) / col (S) index
    T.StructField("value", T.DoubleType()),
])


def _label_bits(tile: int) -> int:
    """Bits needed for a tile-local label (a flat pixel index < tile^2)."""
    return max(int(tile * tile - 1).bit_length(), 1)


def _tile_bits(tile: int) -> int:
    """Bits per tile coordinate in a node id (fixed-width packing)."""
    return (63 - _label_bits(tile)) // 2


def _node_base(tile_x: int, tile_y: int, tile: int) -> int:
    """Scalar node-id base for a tile — asserts coords fit the packing.

    Fixed-width fields (tile_y | tile_x | label) stay inside int64: for
    tile=256 each tile coord gets 23 bits (zoom <= 23 web-mercator), the
    label 16. Overflow raises instead of silently colliding.
    """
    lb, tb = _label_bits(tile), _tile_bits(tile)
    if not (0 <= tile_x < (1 << tb) and 0 <= tile_y < (1 << tb)):
        raise ValueError(
            f"tile coords ({tile_x},{tile_y}) exceed {tb}-bit node-id "
            f"packing for tile={tile}")
    return ((tile_y << tb) | tile_x) << lb


def _node_id(tile_x, tile_y, label, tile: int):
    """Globally-unique int64 node id for a tile-local component.

    Works on both Spark Columns and python ints (same arithmetic)."""
    lb, tb = _label_bits(tile), _tile_bits(tile)
    return (tile_y * (1 << tb) + tile_x) * (1 << lb) + label


def tile_components(tiles_df: DataFrame, tile: int = 256,
                    connect: int = 4):
    """Stage 1: per-tile labeling. Returns (components, boundary_strips)."""

    def emit(key: tuple, pdf: pd.DataFrame) -> tuple:
        comps, edges = [], []
        for r in pdf.itertuples():
            arr = decode_px(r.px, r.dtype, tile)
            valid = np.ones_like(arr, dtype=bool) if r.nodata is None or \
                np.isnan(r.nodata) else arr != np.array(r.nodata, arr.dtype)
            lbl = _label_tile(arr, valid, connect)
            ok = lbl >= 0
            if ok.any():
                flat_lbl = lbl[ok]
                ys, xs = np.nonzero(ok)
                order = np.argsort(flat_lbl, kind="stable")
                sl, sy, sx = flat_lbl[order], ys[order], xs[order]
                bounds = np.flatnonzero(np.r_[True, sl[1:] != sl[:-1], True])
                for s, e in zip(bounds[:-1], bounds[1:]):
                    vy, vx = sy[s:e], sx[s:e]
                    lab = int(sl[s])
                    gy0 = int(r.tile_y) * tile + lab // tile
                    gx0 = int(r.tile_x) * tile + lab % tile
                    comps.append((
                        int(r.band), int(r.zoom), int(r.tile_x),
                        int(r.tile_y), lab,
                        float(arr[vy[0], vx[0]]), int(e - s),
                        int(r.tile_x * tile + vx.min()),
                        int(r.tile_y * tile + vy.min()),
                        int(r.tile_x * tile + vx.max()),
                        int(r.tile_y * tile + vy.max()),
                        (gy0 << 32) | gx0))
            # boundary strips: east column and south row (once per pair)
            for side, idx in (("E", (slice(None), tile - 1)),
                              ("S", (tile - 1, slice(None)))):
                v = valid[idx]
                if v.any():
                    offs = np.nonzero(v)[0]
                    for o in offs:
                        pos = (o, tile - 1) if side == "E" else (tile - 1, o)
                        edges.append((int(r.band), int(r.zoom),
                                      int(r.tile_x), int(r.tile_y),
                                      int(lbl[pos]), side, int(o),
                                      float(arr[pos])))
            # west column / north row of THIS tile are the facing strips of
            # the neighbors' E/S — emitted as W/N probes below via shift-join
            for side, idx in (("W", (slice(None), 0)), ("N", (0, slice(None)))):
                v = valid[idx]
                if v.any():
                    for o in np.nonzero(v)[0]:
                        pos = (o, 0) if side == "W" else (0, o)
                        edges.append((int(r.band), int(r.zoom),
                                      int(r.tile_x), int(r.tile_y),
                                      int(lbl[pos]), side, int(o),
                                      float(arr[pos])))
        return (pd.DataFrame(comps, columns=[f.name for f in _COMP_SCHEMA]),
                pd.DataFrame(edges, columns=[f.name for f in _EDGE_SCHEMA]))

    # one pass produces both outputs; run it twice (each side cheap) to keep
    # the DataFrame API simple — Catalyst dedupes the scan, and the labeling
    # is per-tile-local so recomputation is deterministic
    def emit_comp(key, pdf):
        return emit(key, pdf)[0]

    def emit_edge(key, pdf):
        return emit(key, pdf)[1]

    keys = ["band", "zoom", "tile_x", "tile_y"]
    comp = tiles_df.groupBy(*keys).applyInPandas(emit_comp, _COMP_SCHEMA)
    strips = tiles_df.groupBy(*keys).applyInPandas(emit_edge, _EDGE_SCHEMA)
    nid = _node_id(F.col("tile_x"), F.col("tile_y"), F.col("label"), tile)
    return comp.withColumn("node", nid), strips


def adjacency_pairs(strips: DataFrame, tile: int = 256,
                    connect: int = 4) -> DataFrame:
    """Stage 2a: (node, node2) component-graph edges across tile seams.
    connect=8 also matches diagonal neighbors across the seam (offset +-1)
    and the four tile-corner diagonals."""
    nid = _node_id(F.col("tile_x"), F.col("tile_y"), F.col("label"), tile)
    # cross-tile adjacency: my E strip meets the +x neighbor's W strip at the
    # same offset & value; my S strip meets the +y neighbor's N strip.
    e = strips.where(F.col("side") == "E").withColumn("node", nid) \
        .withColumnRenamed("label", "_l")
    w = strips.where(F.col("side") == "W").withColumn("node", nid) \
        .select(F.col("band"), F.col("zoom"),
                (F.col("tile_x") - 1).alias("tile_x"), "tile_y",
                "offset", "value", F.col("node").alias("node2"))
    s = strips.where(F.col("side") == "S").withColumn("node", nid) \
        .withColumnRenamed("label", "_l")
    n = strips.where(F.col("side") == "N").withColumn("node", nid) \
        .select(F.col("band"), F.col("zoom"), "tile_x",
                (F.col("tile_y") - 1).alias("tile_y"),
                "offset", "value", F.col("node").alias("node2"))
    jk = ["band", "zoom", "tile_x", "tile_y", "offset", "value"]
    if connect == 4:
        pairs = (e.join(w, jk).select("node", "node2")
                 .unionByName(s.join(n, jk).select("node", "node2")))
    else:
        # straight seams with offset slack +-1 (diagonal pixel adjacency)
        off3 = F.explode(F.array(F.col("offset") - 1, F.col("offset"),
                                 F.col("offset") + 1)).alias("_o3")
        e3 = e.select("*", off3).drop("offset") \
            .withColumnRenamed("_o3", "offset")
        s3 = s.select("*", off3).drop("offset") \
            .withColumnRenamed("_o3", "offset")
        pairs = (e3.join(w, jk).select("node", "node2")
                 .unionByName(s3.join(n, jk).select("node", "node2")))
        # tile-corner diagonals: SE corner <-> NW corner of (tx+1, ty+1),
        # NE corner <-> SW corner of (tx+1, ty-1)
        ec = strips.where((F.col("side") == "E")
                          & (F.col("offset") == tile - 1))             .withColumn("node", nid)
        wc = strips.where((F.col("side") == "W") & (F.col("offset") == 0))             .withColumn("node", nid)             .select("band", "zoom", (F.col("tile_x") - 1).alias("tile_x"),
                    (F.col("tile_y") - 1).alias("tile_y"), "value",
                    F.col("node").alias("node2"))
        en = strips.where((F.col("side") == "E") & (F.col("offset") == 0))             .withColumn("node", nid)
        ws = strips.where((F.col("side") == "W")
                          & (F.col("offset") == tile - 1))             .withColumn("node", nid)             .select("band", "zoom", (F.col("tile_x") - 1).alias("tile_x"),
                    (F.col("tile_y") + 1).alias("tile_y"), "value",
                    F.col("node").alias("node2"))
        ck = ["band", "zoom", "tile_x", "tile_y", "value"]
        pairs = pairs             .unionByName(ec.join(wc, ck).select("node", "node2"))             .unionByName(en.join(ws, ck).select("node", "node2"))
    return pairs.distinct()


def _union_find_pdf(edges) -> "pd.DataFrame":
    """Driver-side union-find over collected (node, node2) edges -> mapping
    pdf (node, comp) with comp = component min. Path-halving, O(E α(E))."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return pd.DataFrame(rows, columns=["node", "comp"])


def resolve_components(comp: DataFrame, pairs: DataFrame,
                       driver_merge_threshold: int = 4_000_000,
                       max_rounds: int = 64) -> DataFrame:
    """Node -> component-min mapping, shared by polygonize /
    polygonize_polygons / sieve.

    The cross-tile merge graph has one node per tile-boundary component —
    orders of magnitude smaller than the raster. When it fits on the driver
    (<= driver_merge_threshold edges) we union-find it there in one pass,
    exactly like Spark broadcasts a small join side; above the threshold the
    distributed min-label propagation loop takes over, so the merge has no
    driver scale ceiling. Returns a DataFrame(node, comp) covering every
    node of `comp` (nodes untouched by any seam map to themselves)."""
    spark = comp.sparkSession

    if pairs.count() <= driver_merge_threshold:
        edges = [(r.node, r.node2) for r in pairs.toLocalIterator()]
        mapping = _union_find_pdf(edges)
        if len(mapping):
            lbl = F.broadcast(spark.createDataFrame(mapping))
            return (comp.select("node").distinct()
                    .join(lbl, "node", "left")
                    .withColumn("comp", F.coalesce("comp", F.col("node"))))
        return comp.select("node").distinct() \
            .withColumn("comp", F.col("node"))

    # min-label propagation over the component graph (NOT over pixels).
    # Undirected: propagate both ways each round; converges within the
    # graph diameter, bounded by max_rounds. Each round's result is
    # re-materialized (localCheckpoint) — an iterative self-join otherwise
    # trips Spark's ambiguous-attribute resolution and silently joins
    # wrong columns.
    lbl = comp.select("node").distinct() \
        .withColumn("comp", F.col("node"))
    sym = (pairs.unionByName(
        pairs.select(F.col("node2").alias("node"),
                     F.col("node").alias("node2"))).distinct()
        .select(F.col("node").alias("src"), F.col("node2").alias("dst"))
        .localCheckpoint())
    if sym.isEmpty():
        max_rounds = 0          # no seams -> nothing to merge
    for _ in range(max_rounds):
        lbl = lbl.localCheckpoint()
        nbr = (sym.join(lbl.select(F.col("node").alias("dst"), "comp"), "dst")
               .groupBy(F.col("src").alias("node"))
               .agg(F.min("comp").alias("nbr_comp")))
        new = (lbl.withColumnRenamed("comp", "old")
               .join(nbr, "node", "left")
               .select("node", "old", F.least("old", F.coalesce(
                   "nbr_comp", F.lit(1 << 62))).alias("comp")))
        changed = new.where(F.col("old") != F.col("comp")).limit(1).count()
        lbl = new.select("node", "comp")
        if changed == 0:
            break
    return lbl


def polygonize(tiles_df: DataFrame, tile: int = 256,
               max_rounds: int = 64,
               driver_merge_threshold: int = 4_000_000,
               connect: int = 4) -> DataFrame:
    """tile table -> (comp_id, value, n_pixels, px_xmin..px_ymax).

    comp_id is the min node id over the component — deterministic, so output
    is reproducible run-to-run regardless of execution order. Cross-tile
    merge strategy (driver union-find vs distributed label propagation) is
    picked by resolve_components' threshold guard.
    """
    comp, strips = tile_components(tiles_df, tile, connect)
    pairs = adjacency_pairs(strips, tile, connect).localCheckpoint()
    lbl = resolve_components(comp, pairs, driver_merge_threshold, max_rounds)
    return (comp.join(lbl, "node")
            .groupBy(F.col("comp").alias("comp_id"), "band", "zoom", "value")
            .agg(F.sum("n_pixels").alias("n_pixels"),
                 F.min("px_xmin").alias("px_xmin"),
                 F.min("px_ymin").alias("px_ymin"),
                 F.max("px_xmax").alias("px_xmax"),
                 F.max("px_ymax").alias("px_ymax")))


# ---------------------------------------------------------------------------
# ring tracing: polygonize with TRACED BOUNDARY POLYGONS
# (alg/polygonize_polygonizer.cpp — the reference emits one polygon with
#  holes per connected component; here the distributed contract is a
#  per-tile boundary-edge table, and ring assembly runs ONE TASK PER
#  COMPONENT in applyInPandas — sequential only along each component's own
#  boundary, exactly the part that is inherently sequential)
# ---------------------------------------------------------------------------

_RSEG_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("node", T.LongType()),
    T.StructField("x0", T.LongType()),
    T.StructField("y0", T.LongType()),
    T.StructField("x1", T.LongType()),
    T.StructField("y1", T.LongType()),
])

_POLY_SCHEMA = T.StructType([
    T.StructField("comp_id", T.LongType()),
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("geom", T.BinaryType()),
])


def boundary_segments(tiles_df: DataFrame, tile: int = 256,
                      nodata: float | None = None,
                      connect: int = 4) -> DataFrame:
    """Per-pixel boundary edges of every tile-local component, in global
    pixel coords, directed with the component interior on the LEFT
    (exterior rings assemble CCW by shoelace, holes CW). Pixel (x, y)
    covers the unit square [x, x+1] x [y, y+1].

    Halo exchange supplies neighbor-tile values, so an edge between equal
    values across a tile seam is correctly NOT a boundary; absent
    neighbors (raster border / unmaterialized tiles) are boundaries."""
    from .dem import _HALO_SCHEMA, _assemble_padded, _emit_halo

    halo = tiles_df.mapInPandas(lambda it: _emit_halo(it, tile),
                                _HALO_SCHEMA)

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pad = _assemble_padded(pdf, tile)
        cols = [f.name for f in _RSEG_SCHEMA.fields]
        if pad is None:
            return pd.DataFrame(columns=cols)
        band, zoom, tx, ty = (int(key[0]), int(key[1]),
                              int(key[2]), int(key[3]))
        got = {(-int(r.dx), -int(r.dy)) for r in pdf.itertuples()}
        pvalid = np.ones_like(pad, dtype=bool)
        if nodata is not None and not np.isnan(nodata):
            pvalid = pad != nodata
        # absent halo sides are OUTSIDE the raster -> always boundary
        if (0, -1) not in got:
            pvalid[0, :] = False
        if (0, 1) not in got:
            pvalid[-1, :] = False
        if (-1, 0) not in got:
            pvalid[:, 0] = False
        if (1, 0) not in got:
            pvalid[:, -1] = False
        for cx in (-1, 1):
            for cy in (-1, 1):
                if (cx, cy) not in got:
                    pvalid[0 if cy == -1 else -1, 0 if cx == -1 else -1] \
                        = False
        core = pad[1:-1, 1:-1]
        cvalid = pvalid[1:-1, 1:-1]
        lbl = _label_tile(core, cvalid, connect)
        base = _node_base(tx, ty, tile)
        gx0, gy0 = tx * tile, ty * tile
        rows = []
        # (neighbor offset in padded coords, edge endpoints as fn of (x,y))
        dirs = [
            ((0, -1), lambda x, y: (x, y, x + 1, y)),          # top nbr
            ((0, 1), lambda x, y: (x + 1, y + 1, x, y + 1)),   # bottom nbr
            ((-1, 0), lambda x, y: (x, y + 1, x, y)),          # left nbr
            ((1, 0), lambda x, y: (x + 1, y, x + 1, y + 1)),   # right nbr
        ]
        for (dx, dy), seg in dirs:
            nb_v = pad[1 + dy:tile + 1 + dy, 1 + dx:tile + 1 + dx]
            nb_ok = pvalid[1 + dy:tile + 1 + dy, 1 + dx:tile + 1 + dx]
            boundary = (lbl >= 0) & ~(nb_ok & (nb_v == core))
            ys, xs = np.nonzero(boundary)
            if not len(ys):
                continue
            nodes = base + lbl[ys, xs]
            x0, y0, x1, y1 = seg(gx0 + xs, gy0 + ys)
            rows.append(pd.DataFrame({
                "band": band, "zoom": zoom, "node": nodes,
                "x0": x0, "y0": y0, "x1": x1, "y1": y1}))
        if not rows:
            return pd.DataFrame(columns=cols)
        return pd.concat(rows)[cols]

    return halo.groupBy("band", "zoom", "tile_x", "tile_y") \
        .applyInPandas(build, _RSEG_SCHEMA)


def _assemble_rings(x0, y0, x1, y1, connect: int = 4):
    """Link unit boundary edges into closed rings. Integer lattice, exact
    keys. At pinch vertices (degree 4) the walk takes the most-clockwise
    continuation, joining the lobes THROUGH the corner into one
    self-touching ring per component — the output shape the reference's
    polygonizer emits for corner-touching lobes (and the only choice that
    keeps 8-connected diagonal pairs in one ring)."""
    n = len(x0)
    # Canonicalize: the walk's ring starting vertices (and therefore the
    # WKB bytes) must not depend on shuffle arrival order — AQE can hand
    # the same component's edges to applyInPandas in a different row
    # order between runs. Lexsorting the segments first makes the output
    # bytes a pure function of the edge SET.
    order = np.lexsort((y1, x1, y0, x0))
    x0, y0 = np.asarray(x0)[order], np.asarray(y0)[order]
    x1, y1 = np.asarray(x1)[order], np.asarray(y1)[order]
    outgoing: dict = {}
    for i in range(n):
        outgoing.setdefault((int(x0[i]), int(y0[i])), []).append(i)
    used = np.zeros(n, dtype=bool)
    rings = []
    for start in range(n):
        if used[start]:
            continue
        ring = [(int(x0[start]), int(y0[start]))]
        cur = start
        while True:
            used[cur] = True
            outgoing[(int(x0[cur]), int(y0[cur]))].remove(cur)
            end = (int(x1[cur]), int(y1[cur]))
            ring.append(end)
            if end == ring[0]:
                break
            cands = [j for j in outgoing.get(end, []) if not used[j]]
            if not cands:
                break                      # open chain: drop (shouldn't happen)
            if len(cands) == 1:
                cur = cands[0]
            else:
                din = (int(x1[cur]) - int(x0[cur]),
                       int(y1[cur]) - int(y0[cur]))

                def cw_turn(j):
                    d = (int(x1[j]) - int(x0[j]), int(y1[j]) - int(y0[j]))
                    # cross<0 = right(cw) turn, cross>0 = left; prefer the
                    # sharpest clockwise turn
                    cross = din[0] * d[1] - din[1] * d[0]
                    dotp = din[0] * d[0] + din[1] * d[1]
                    return np.arctan2(cross, dotp)

                cur = min(cands, key=cw_turn)
        if len(ring) >= 5 and ring[-1] == ring[0]:
            rings.append(np.array(ring, dtype=np.float64))
    return rings


def _dedup_collinear_int(ring: np.ndarray) -> np.ndarray:
    pts = ring[:-1]
    prev = np.roll(pts, 1, axis=0)
    nxt = np.roll(pts, -1, axis=0)
    cross = ((pts[:, 0] - prev[:, 0]) * (nxt[:, 1] - prev[:, 1])
             - (pts[:, 1] - prev[:, 1]) * (nxt[:, 0] - prev[:, 0]))
    pts = pts[cross != 0]
    return np.vstack([pts, pts[:1]]) if len(pts) >= 3 else np.empty((0, 2))


def polygonize_polygons(tiles_df: DataFrame, tile: int = 256,
                        nodata: float | None = None,
                        driver_merge_threshold: int = 4_000_000,
                        connect: int = 4) -> DataFrame:
    """Full polygonize with traced rings: (comp_id, band, zoom, value,
    geom WKB POLYGON-with-holes in global pixel coords). connect=4|8 (the
    reference's CONNECTED option; 8 joins diagonal pixels into one
    component whose ring self-touches at the shared corner).

    Pipeline: per-tile boundary edges (halo-correct across seams)
    -> node->component resolution (same machinery as polygonize())
    -> groupBy(component) ring assembly. Each component's rings build in
    one task; components are the natural parallel unit, and only a
    pathological continent-sized component serializes. The node->component
    merge honors driver_merge_threshold: small graphs union-find on the
    driver, big ones run the distributed min-label loop
    (resolve_components), so this path has no driver scale ceiling."""
    from ..core import wkb as _wkb

    comp, strips = tile_components(tiles_df, tile, connect)
    pairs = adjacency_pairs(strips, tile, connect).localCheckpoint()
    node2comp = resolve_components(comp, pairs, driver_merge_threshold)
    comp = comp.join(node2comp, "node")

    segs = boundary_segments(tiles_df, tile, nodata, connect) \
        .join(node2comp, "node") \
        .select("band", "zoom", F.col("comp"), "x0", "y0", "x1", "y1")
    vals = comp.groupBy("comp").agg(F.first("value").alias("value"))
    segs = segs.join(F.broadcast(vals), "comp")

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        comp_id = int(key[0])
        rings = _assemble_rings(pdf["x0"].values, pdf["y0"].values,
                                pdf["x1"].values, pdf["y1"].values,
                                connect)
        rings = [r for r in (_dedup_collinear_int(r) for r in rings)
                 if len(r)]
        if not rings:
            return pd.DataFrame(columns=[f.name for f in
                                         _POLY_SCHEMA.fields])

        def area(r):
            x, y = r[:, 0], r[:, 1]
            return 0.5 * (np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))

        shells = sorted([r for r in rings if area(r) > 0], key=area)
        holes = [r for r in rings if area(r) < 0]
        if not shells:
            return pd.DataFrame(columns=[f.name for f in
                                         _POLY_SCHEMA.fields])
        # several shells can legitimately arise (pinched excursions that
        # closed separately): keep them ALL as multipolygon parts, holes
        # assigned to the smallest containing shell
        from ..core.geomops import points_in_ring
        polys = [[r] for r in shells]
        for h in holes:
            for cand in polys:
                if points_in_ring(h[:1, 0], h[:1, 1], cand[0])[0]:
                    cand.append(h)
                    break
            else:
                polys[-1].append(h)
        if len(polys) == 1:
            gout = _wkb.Geom(_wkb.POLYGON, polys[0])
        else:
            gout = _wkb.Geom(_wkb.MULTIPOLYGON,
                             parts=[_wkb.Geom(_wkb.POLYGON, rs)
                                    for rs in polys])
        geom = _wkb.encode(gout)
        return pd.DataFrame([(comp_id, int(pdf.iloc[0]["band"]),
                              int(pdf.iloc[0]["zoom"]),
                              float(pdf.iloc[0]["value"]), geom)],
                            columns=[f.name for f in _POLY_SCHEMA.fields])

    return segs.groupBy("comp").applyInPandas(assemble, _POLY_SCHEMA)
