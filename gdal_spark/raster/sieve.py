"""Distributed sieve filter: remove raster polygons smaller than a threshold.

Re-expresses GDALSieveFilter (/root/reference/alg/gdalsievefilter.cpp —
two-row connected components, merge small polygons into their largest
neighbour) on the tile table:

    1. per-tile labeling + cross/intra-tile neighbor graph (shares the
       polygonize machinery)
    2. resolve global components (resolve_components: driver union-find
       below the threshold, distributed min-label propagation above)
    3. merge every small component into its largest neighbour until none
       is below the threshold. The merge graph stays in DataFrames; the
       sequential reference-order pass runs on the driver ONLY when the
       small-component-incident subgraph fits (<= driver_merge_threshold
       rows), else a distributed round-based merge takes over — so sieve
       has no driver scale ceiling.
    4. rewrite tile pixels with the merged values (cogrouped
       applyInPandas join of tiles with their changed node values — no
       whole-raster broadcast dict)

Tie-break divergence from the reference: when two neighbours have equal
size we pick the one with the smaller canonical pixel rank
(deterministic); GDAL keeps the first polygon enumerated by its scan
order. The distributed merge path applies the same target rule but
commits merges in precedence-ordered rounds rather than one at a time;
cascading ties can therefore resolve differently from the driver pass in
adversarial equal-size chains (documented, deterministic either way).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .polygonize import (_label_bits, _label_tile, _node_base, _node_id,
                         _tile_bits, adjacency_pairs, resolve_components,
                         tile_components)
from .tiles import TILE_SCHEMA, decode_px, encode_px

_NBR_SCHEMA = T.StructType([
    T.StructField("node", T.LongType()),
    T.StructField("node2", T.LongType()),
])

_CHANGED_SCHEMA = T.StructType([
    T.StructField("comp", T.LongType()),
    T.StructField("new_value", T.DoubleType()),
])


def _neighbor_pairs(tiles_df: DataFrame, tile: int,
                    connect: int = 4) -> DataFrame:
    """Adjacent same-tile components with DIFFERENT labels (any values) —
    the intra-tile part of the sieve neighbour graph."""

    def emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = set()
        for r in pdf.itertuples():
            arr = decode_px(r.px, r.dtype, tile)
            valid = np.ones_like(arr, dtype=bool) if r.nodata is None or \
                np.isnan(r.nodata) else arr != np.array(r.nodata, arr.dtype)
            lbl = _label_tile(arr, valid, connect)
            base = _node_base(int(r.tile_x), int(r.tile_y), tile)
            h, w = arr.shape
            pairs = [((slice(0, -1), slice(None)),
                      (slice(1, None), slice(None))),
                     ((slice(None), slice(0, -1)),
                      (slice(None), slice(1, None)))]
            if connect == 8:
                pairs += [((slice(0, h - 1), slice(0, w - 1)),
                           (slice(1, h), slice(1, w))),
                          ((slice(0, h - 1), slice(1, w)),
                           (slice(1, h), slice(0, w - 1)))]
            for a, b in pairs:
                la, lb = lbl[a], lbl[b]
                ok = (la >= 0) & (lb >= 0) & (la != lb)
                for x, y in zip(la[ok].ravel(), lb[ok].ravel()):
                    out.add((base + int(x), base + int(y)))
        return pd.DataFrame(sorted(out), columns=["node", "node2"]) if out \
            else pd.DataFrame({"node": pd.Series(dtype="int64"),
                               "node2": pd.Series(dtype="int64")})

    return tiles_df.groupBy("band", "zoom", "tile_x", "tile_y") \
        .applyInPandas(emit, _NBR_SCHEMA)


def _cross_tile_any_value(strips: DataFrame, tile: int,
                          connect: int = 4) -> DataFrame:
    """Cross-tile adjacency WITHOUT the value-equality constraint — facing
    valid pixels of different components are sieve neighbours too.
    connect=8 also pairs diagonal neighbours across the seam (offset +-1)."""
    nid = _node_id(F.col("tile_x"), F.col("tile_y"), F.col("label"), tile)
    e = strips.where(F.col("side") == "E").withColumn("node", nid)
    w = strips.where(F.col("side") == "W").withColumn("node", nid) \
        .select("band", "zoom", (F.col("tile_x") - 1).alias("tile_x"),
                "tile_y", "offset", F.col("node").alias("node2"))
    s = strips.where(F.col("side") == "S").withColumn("node", nid)
    n = strips.where(F.col("side") == "N").withColumn("node", nid) \
        .select("band", "zoom", "tile_x", (F.col("tile_y") - 1).alias("tile_y"),
                "offset", F.col("node").alias("node2"))
    if connect == 8:
        off3 = F.explode(F.array(F.col("offset") - 1, F.col("offset"),
                                 F.col("offset") + 1)).alias("_o3")
        e = e.select("*", off3).drop("offset").withColumnRenamed("_o3", "offset")
        s = s.select("*", off3).drop("offset").withColumnRenamed("_o3", "offset")
    jk = ["band", "zoom", "tile_x", "tile_y", "offset"]
    return (e.join(w, jk).select("node", "node2")
            .unionByName(s.join(n, jk).select("node", "node2"))
            .where(F.col("node") != F.col("node2"))
            .distinct())


def _merge_driver(spark, rel_stats, inc_rows, threshold):
    """Sequential reference-order merge over the small-incident induced
    subgraph (collected; size guarded by the caller). Returns the
    (comp, new_value) rows for components whose value changes."""
    size = {int(r.comp): int(r.size) for r in rel_stats}
    value = {int(r.comp): float(r.value) for r in rel_stats}
    canon = {int(r.comp): int(r.canon) for r in rel_stats}
    nbrs: dict[int, set] = {}
    for r in inc_rows:
        nbrs.setdefault(int(r.a), set()).add(int(r.b))

    merged_into: dict[int, int] = {}

    def resolve(c):
        while c in merged_into:
            c = merged_into[c]
        return c

    changed = True
    while changed:
        changed = False
        for c in sorted(size, key=lambda k: (size[k], canon[k])):
            if c in merged_into or size[c] >= threshold:
                continue
            cand = {resolve(n) for n in nbrs.get(c, ())} - {c}
            if not cand:
                continue
            target = max(cand, key=lambda k: (size[k], -canon[k]))
            merged_into[c] = target
            size[target] += size[c]
            nbrs.setdefault(target, set()).update(nbrs.get(c, ()))
            changed = True

    rows = [(c, value[resolve(c)]) for c in merged_into]
    return spark.createDataFrame(rows, _CHANGED_SCHEMA) if rows \
        else spark.createDataFrame([], _CHANGED_SCHEMA)


def _merge_distributed(stats: DataFrame, edges: DataFrame, threshold: int,
                       max_rounds: int = 64) -> DataFrame:
    """Round-based distributed small-into-largest-neighbour merge.

    Each round every small component picks its largest live neighbour
    (size desc, canon asc — the driver pass's target rule); a merge
    commits when it strictly increases the (size, canon) precedence, which
    makes the per-round merge forest acyclic. Committed merges are
    pointer-jumped to their round-final destination, sizes fold into the
    destinations, edges relabel by join, and the loop repeats until no
    small component has a neighbour. If a round stalls with candidates
    left (equal-size chains), the single lowest-precedence merge is
    force-applied (one-row collect) to guarantee progress. All state is
    DataFrames — nothing grows with the raster on the driver."""
    spark = stats.sparkSession
    sizes = stats.localCheckpoint()
    edges = edges.localCheckpoint()
    redirect = None          # (orig, root) accumulated over rounds

    for _ in range(max_rounds):
        small = sizes.where(F.col("size") < threshold)
        cand = (edges
                .join(small.select(F.col("comp").alias("a"),
                                   F.col("size").alias("asize"),
                                   F.col("canon").alias("acanon")), "a")
                .join(sizes.select(F.col("comp").alias("b"),
                                   F.col("size").alias("bsize"),
                                   F.col("canon").alias("bcanon")), "b"))
        w = Window.partitionBy("a").orderBy(F.desc("bsize"), F.asc("bcanon"))
        pick = cand.withColumn("rn", F.row_number().over(w)) \
            .where(F.col("rn") == 1).drop("rn").localCheckpoint()
        if pick.isEmpty():
            break
        gain = (F.col("asize") < F.col("bsize")) | (
            (F.col("asize") == F.col("bsize"))
            & (F.col("acanon") < F.col("bcanon")))
        applied = pick.where(gain) \
            .select(F.col("a").alias("orig"), F.col("b").alias("dest"))
        if applied.isEmpty():
            # equal-size chain stall: force the lowest-precedence merge
            one = pick.orderBy("asize", "acanon").limit(1) \
                .select(F.col("a").alias("orig"), F.col("b").alias("dest"))
            applied = one
        applied = applied.localCheckpoint()

        # pointer-jump within the round: dest may itself have merged.
        # the merge forest is acyclic (precedence strictly increases along
        # committed edges), so jumping halves chain depth per pass
        origs = applied.select("orig").distinct().localCheckpoint()
        for _ in range(max_rounds):
            pending = (applied
                       .join(origs.withColumnRenamed("orig", "dest"),
                             "dest", "left_semi").limit(1).count())
            if pending == 0:
                break
            applied = (applied
                       .join(applied.select(
                           F.col("orig").alias("dest"),
                           F.col("dest").alias("dest2")), "dest", "left")
                       .select("orig",
                               F.coalesce("dest2", "dest").alias("dest"))
                       .localCheckpoint())

        # fold merged sizes into destinations, drop merged rows
        add = (sizes.join(applied, sizes.comp == applied.orig)
               .groupBy("dest").agg(F.sum("size").alias("add")))
        sizes = (sizes
                 .join(applied.select(F.col("orig").alias("comp")),
                       "comp", "left_anti")
                 .join(add.withColumnRenamed("dest", "comp"), "comp", "left")
                 .withColumn("size", F.col("size")
                             + F.coalesce("add", F.lit(0)))
                 .drop("add").localCheckpoint())
        # relabel edges through the merge map
        ma = applied.select(F.col("orig").alias("a"),
                            F.col("dest").alias("ra"))
        mb = applied.select(F.col("orig").alias("b"),
                            F.col("dest").alias("rb"))
        edges = (edges.join(ma, "a", "left").join(mb, "b", "left")
                 .select(F.coalesce("ra", "a").alias("a"),
                         F.coalesce("rb", "b").alias("b"))
                 .where(F.col("a") != F.col("b"))
                 .distinct().localCheckpoint())
        # accumulate redirect (orig -> current live root)
        newr = applied.select(F.col("orig"), F.col("dest").alias("root"))
        if redirect is None:
            redirect = newr.localCheckpoint()
        else:
            rj = applied.select(F.col("orig").alias("root"),
                                F.col("dest").alias("root2"))
            redirect = (redirect.join(rj, "root", "left")
                        .select("orig",
                                F.coalesce("root2", "root").alias("root"))
                        .unionByName(newr).localCheckpoint())

    if redirect is None:
        return spark.createDataFrame([], _CHANGED_SCHEMA)
    return (redirect
            .join(sizes.select(F.col("comp").alias("root"), "value"), "root")
            .select(F.col("orig").alias("comp"),
                    F.col("value").cast("double").alias("new_value")))


def sieve(tiles_df: DataFrame, threshold: int, tile: int = 256,
          connect: int = 4,
          driver_merge_threshold: int = 4_000_000) -> DataFrame:
    """Return a new tile table with every connected region smaller than
    `threshold` pixels merged into its largest neighbour's value.
    connect=4|8 mirrors GDALSieveFilter's CONNECTED option
    (/root/reference/alg/gdalsievefilter.cpp)."""
    spark = tiles_df.sparkSession
    comp, strips = tile_components(tiles_df, tile, connect)
    same_pairs = adjacency_pairs(strips, tile, connect).localCheckpoint()

    # resolve global components (shared guarded machinery)
    node2comp = resolve_components(comp, same_pairs,
                                   driver_merge_threshold) \
        .localCheckpoint()
    compr = comp.join(node2comp, "node")

    stats = (compr.groupBy("comp", "value")
             .agg(F.sum("n_pixels").alias("size"),
                  F.min("canon").alias("canon"))
             .select("comp", F.col("value").cast("double").alias("value"),
                     "size", "canon")
             .localCheckpoint())

    # component-level neighbour graph, symmetric, via joins (never a
    # driver-side node2comp dict)
    raw_nbr = _neighbor_pairs(tiles_df, tile, connect).unionByName(
        _cross_tile_any_value(strips, tile, connect))
    ca = node2comp.select("node", F.col("comp").alias("ca"))
    cb = node2comp.select(F.col("node").alias("node2"),
                          F.col("comp").alias("cb"))
    ce = (raw_nbr.join(ca, "node").join(cb, "node2")
          .where(F.col("ca") != F.col("cb"))
          .select(F.col("ca").alias("a"), F.col("cb").alias("b")))
    edges = ce.unionByName(
        ce.select(F.col("b").alias("a"), F.col("a").alias("b"))) \
        .distinct().localCheckpoint()

    # merge strategy guard: only the small-incident induced subgraph ever
    # reaches the driver, and only when it fits
    small_ids = stats.where(F.col("size") < threshold).select("comp")
    inc = edges.join(small_ids.withColumnRenamed("comp", "a"), "a")
    n_small = small_ids.count()
    n_inc = inc.count()
    if n_small + n_inc <= driver_merge_threshold:
        rel = (small_ids
               .unionByName(inc.select(F.col("b").alias("comp")))
               .distinct())
        rel_stats = stats.join(rel, "comp").collect()
        inc_rows = inc.collect()
        changed = _merge_driver(spark, rel_stats, inc_rows, threshold)
    else:
        changed = _merge_distributed(stats, edges, threshold)
    changed = changed.localCheckpoint()

    # node -> new value, routed to its owning tile by unpacking the node id
    lb, tb = _label_bits(tile), _tile_bits(tile)
    nv = (node2comp.join(changed, "comp")
          .select("node", "new_value")
          .withColumn("tile_x", F.shiftright(F.col("node"), lb)
                      .bitwiseAND(F.lit((1 << tb) - 1)))
          .withColumn("tile_y", F.shiftright(F.col("node"), lb + tb)))

    tile_cols = [f.name for f in TILE_SCHEMA.fields]

    def rewrite(key: tuple, tiles_pdf: pd.DataFrame,
                nv_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(tiles_pdf):
            return pd.DataFrame(columns=tile_cols)
        if not len(nv_pdf):
            return tiles_pdf[tile_cols]
        nvmap = dict(zip((int(n) for n in nv_pdf["node"]),
                         nv_pdf["new_value"]))
        out = []
        for r in tiles_pdf.itertuples():
            arr = decode_px(r.px, r.dtype, tile).copy()
            valid = np.ones_like(arr, dtype=bool) if r.nodata is None or \
                np.isnan(r.nodata) else arr != np.array(r.nodata, arr.dtype)
            lbl = _label_tile(arr, valid, connect)
            base = _node_base(int(r.tile_x), int(r.tile_y), tile)
            for lab in np.unique(lbl[lbl >= 0]):
                v = nvmap.get(base + int(lab))
                if v is not None:
                    arr[lbl == lab] = np.array(v, dtype=arr.dtype)
            out.append((r.band, r.zoom, r.tile_x, r.tile_y, r.dtype,
                        r.nodata, encode_px(arr)))
        return pd.DataFrame(out, columns=tile_cols)

    return (tiles_df.groupBy("tile_x", "tile_y")
            .cogroup(nv.groupBy("tile_x", "tile_y"))
            .applyInPandas(rewrite, TILE_SCHEMA))
