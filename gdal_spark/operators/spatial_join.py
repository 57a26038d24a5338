"""Distributed spatial join: cell-cover prefilter -> equi-join -> exact verify.

This is the engine's core operator, the Spark-first re-expression of OGR's
spatial filtering / overlay machinery:

  * prefilter  = OGR's envelope / R-tree prefilter
    (/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:1750-1822,
     /root/reference/ogr/ogrsf_frmts/flatgeobuf/packedrtree.h:71-143)
    re-expressed as an equi-join on integer tile/cell ids (tilemath.quadkey_int)
    so Catalyst plans it as a hash join with pushdown/pruning;
  * exact verify = the GEOS-exact predicate
    (/root/reference/ogr/ogrgeometry.cpp:5842 Within, :5915 Contains)
    re-expressed as an Arrow-batched pandas UDF over numpy ray casting
    (core.geomops) — no per-row Python.

Scale design (100 TB / 1000 executors):
  * points get exactly ONE cell (their containing tile) — no pair-dedup needed
    and the big side is never exploded;
  * polygons explode to their cover cells — the small side multiplies, the
    big side doesn't;
  * small polygon dims are broadcast (no shuffle of the big side at all);
    for large polygon sides we shuffle on cell with optional SALT for hot
    cells (coastal/urban skew) — `salt` splits each hot cell into `salt`
    sub-keys and replicates the polygon side, keeping all partitions bounded;
  * the exact verify runs only on candidate pairs, grouped per-geometry inside
    each Arrow batch so each polygon is decoded once per batch (the analog of
    OGR's prepared-geometry reuse, ogrlayer.cpp:1809-1817).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..core import geomops, tilemath, wkb


def point_cell_col(lon: Column, lat: Column, zoom: int) -> Column:
    """Containing-cell id of a lon/lat point — pure JVM column math.
    Uses the flat packed id (tilemath.packed_cell_id_col): the tile-math
    subtree is referenced exactly once per output bit-field, so codegen
    evaluates log/tan once per row (the Morton variant repeats subtrees and
    falls out of JIT — 3 orders of magnitude slower, measured)."""
    tx, ty = tilemath.mercator_tile_cols(lon, lat, zoom)
    return tilemath.packed_cell_id_col(tx, ty, zoom)


def _group_runs(rid: np.ndarray):
    """Contiguous runs of equal region_id after a stable argsort — numpy-only
    grouping (pandas groupby costs ~100x more per group, which dominates when
    a batch touches thousands of regions)."""
    order = np.argsort(rid, kind="stable")
    sr = rid[order]
    bounds = np.flatnonzero(np.r_[True, sr[1:] != sr[:-1], True])
    for s, e in zip(bounds[:-1], bounds[1:]):
        yield int(sr[s]), order[s:e]


def make_pip_exact_by_id(bc):
    """pandas UDF (lon, lat, region_id) -> inside?, geometries resolved from
    the broadcast {region_id: wkb} dict. No geometry bytes cross Arrow; the
    caller has already mask-filtered, so every row here is a genuine boundary
    candidate."""
    # decoded-geometry cache, region_id -> Geom, captured by the closure, so
    # every task gets its own copy of this broadcast's cache: a geometry is
    # decoded once per task, not once per Arrow batch — the analog of OGR's
    # prepared-geometry reuse (ogrlayer.cpp:1809-1817).
    cache: dict = {}

    @pandas_udf(BooleanType())
    def _pip(lon: pd.Series, lat: pd.Series, rid: pd.Series) -> pd.Series:
        lons = lon.values
        lats = lat.values
        out = np.zeros(len(lons), dtype=bool)
        for r, idx in _group_runs(rid.values.astype(np.int64)):
            g = cache.get(r)
            if g is None:
                g = cache[r] = wkb.decode(bytes(bc.value[r]))
            out[idx] = geomops.points_in_geom(lons[idx], lats[idx], g)
        return pd.Series(out)
    return _pip


@pandas_udf(BooleanType())
def pip_exact(lon: pd.Series, lat: pd.Series, rid: pd.Series,
              geom: pd.Series) -> pd.Series:
    """Shuffle-path exact PIP: geometry WKB travels with the candidate rows
    (for region tables too large to broadcast). Groups by region_id, decodes
    one WKB per run."""
    lons = lon.values
    lats = lat.values
    rids = rid.values.astype(np.int64)
    geoms = geom.values
    out = np.zeros(len(rids), dtype=bool)
    for _, idx in _group_runs(rids):
        g = wkb.decode(bytes(geoms[idx[0]]))
        out[idx] = geomops.points_in_geom(lons[idx], lats[idx], g)
    return pd.Series(out)


def pip_join(points: DataFrame, regions: DataFrame, zoom: int = 6,
             broadcast_regions: bool = True, salt: int = 1) -> DataFrame:
    """Point-in-polygon join.

    points: any DF with (lon, lat) double columns.
    regions: DF with (region_id, geom binary, cells array<long>) — `cells` is
    the precomputed cell cover at `zoom` (tilemath.cover_envelopes_cellids).

    Returns points columns + region columns (geom/cells dropped) for every
    (point, region) pair where the point is exactly inside the region.
    """
    # ONE tile-math evaluation at zoom+SUB_BITS; the join cell at `zoom` and
    # the 8x8 subcell index both derive from it with pure bit ops.
    stx, sty = tilemath.mercator_tile_cols(
        F.col("lon"), F.col("lat"), zoom + tilemath.SUB_BITS)
    p = (points.withColumn("_stx", stx).withColumn("_sty", sty)
         .withColumn("_cell", tilemath.packed_cell_id_col(
             F.shiftrightunsigned("_stx", tilemath.SUB_BITS),
             F.shiftrightunsigned("_sty", tilemath.SUB_BITS), zoom))
         .withColumn("_sub", F.shiftleft(
             F.col("_sty").bitwiseAND(F.lit(7)), 3)
             .bitwiseOR(F.col("_stx").bitwiseAND(F.lit(7))))
         .drop("_stx", "_sty"))
    internal = ("geom", "cells", "fulls", "in_masks", "out_masks", "region_id")
    extra = [c for c in regions.columns if c not in internal]
    has_masks = "in_masks" in regions.columns
    # join-side build is pure Spark (explode in the JVM): the only
    # driver-side work is collecting the (region_id, geom) pairs for the
    # broadcast-variable dict — O(regions), never O(regions x cells).
    z = F.explode(F.arrays_zip(
        F.col("cells").alias("c"),
        (F.col("in_masks") if has_masks
         else F.transform("cells", lambda _: F.lit(0).cast("long"))).alias("i"),
        (F.col("out_masks") if has_masks
         else F.transform("cells", lambda _: F.lit(0).cast("long"))).alias("o"),
    )).alias("_z")
    geom_cols = [] if broadcast_regions else ["geom"]
    r = (regions.select("region_id", *geom_cols, *extra, z)
         .select("region_id", *geom_cols, *extra,
                 F.col("_z.c").alias("_cell"), F.col("_z.i").alias("_im"),
                 F.col("_z.o").alias("_om")))
    if broadcast_regions:
        # geometry bytes go to workers ONCE via a broadcast variable; the
        # join side carries only (region_id, cell, masks) — no WKB over Arrow.
        bc = points.sparkSession.sparkContext.broadcast(
            {int(row.region_id): bytes(row.geom)
             for row in regions.select("region_id", "geom").collect()})
        exact = make_pip_exact_by_id(bc)(
            F.col("lon"), F.col("lat"), F.col("region_id"))
    else:
        exact = pip_exact(F.col("lon"), F.col("lat"),
                          F.col("region_id"), F.col("geom"))
    if salt > 1:
        # replicate the (small) polygon side `salt` times; split the big side
        # pseudo-randomly so one hot cell fans out over `salt` reducers.
        p = p.withColumn("_salt", F.pmod(F.xxhash64("lon", "lat"), F.lit(salt)))
        r = r.join(F.broadcast(
            p.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))),
            how="cross")
        join_keys = ["_cell", "_salt"]
    else:
        join_keys = ["_cell"]
    rj = F.broadcast(r) if broadcast_regions else r
    cand = p.join(rj, join_keys)
    # mask-based accept/reject (ogrlayer.cpp:1784-1790 lifted to a 2-level
    # cell hierarchy): fully-inside subcells accept and fully-outside ones
    # reject with two JVM bit ops; only genuine boundary slivers (~1/8 of
    # candidates per SUB_BIT) cross into Python. The candidate join is
    # scanned twice, but a broadcast-hash probe costs far less per row than
    # Arrow serialization, so the split wins at every parallelism level.
    in_bit = F.expr("(shiftrightunsigned(_im, _sub) & 1) = 1")
    out_bit = F.expr("(shiftrightunsigned(_om, _sub) & 1) = 1")
    accepted = cand.where(in_bit)
    verified = cand.where(~in_bit & ~out_bit).where(exact)
    out = accepted.unionByName(verified)
    return out.drop("_cell", "_sub", "_salt", "_im", "_om", "geom")


def knn_join(points: DataFrame, centers: DataFrame, k: int,
             point_key: str = "doc_id") -> DataFrame:
    """k nearest `centers` (region_id, cx, cy) for each point, planar distance.

    Broadcast the (small) center set; distance is JVM column math; top-k via
    window row_number — Catalyst turns the per-point sort into a bounded
    TakeOrdered per partition key. For center sets too large to broadcast,
    use cell-ring expansion (ring_knn_join below).
    """
    from pyspark.sql import Window
    dx = F.col("lon") - F.col("cx")
    dy = F.col("lat") - F.col("cy")
    # dx*dx (not pow(dx,2)): bit-identical to the SQL oracle's multiplication
    d = points.join(F.broadcast(centers), how="cross").withColumn(
        "dist", F.sqrt(dx * dx + dy * dy))
    w = Window.partitionBy(point_key).orderBy(F.col("dist").asc(),
                                              F.col("region_id").asc())
    return (d.withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k)
             .drop("cx", "cy"))


def ring_knn_join(points: DataFrame, centers: DataFrame, k: int, zoom: int,
                  point_key: str = "doc_id", str_buckets: int = 64,
                  materialize_candidates: bool = False) -> DataFrame:
    """kNN for center sets too large to broadcast: cell-ring expansion with a
    sort-tile-recursive fallback (SURVEY §2.3; the reference has no layer
    kNN — ogrgeometry.cpp:3562 Distance is the scalar it composes from).

    Round 1 (ring): both sides map to cells at `zoom` (pure column math);
    each point probes its 3x3 cell neighborhood via a 9-way explode +
    equi-join, takes top-k by planar degree distance. A point is RESOLVED iff
    it found k candidates and its kth distance fits inside the ring's
    guaranteed radius (distance to the nearest excluded cell edge) — then no
    center outside the ring can beat the kth.

    Round 2 (STR fallback, only unresolved points — the sparse tail): centers
    are packed into `str_buckets` spatial buckets of ~equal count by sorting
    on row-major cell id and cutting at approximate quantiles (the classic
    sort-tile-recursive packing at cell granularity). Per-bucket bboxes are
    broadcast; an unresolved point scans exactly the buckets whose bbox
    min-distance is <= its round-1 upper bound (kth found dist, or inf), then
    windows top-k. Any true neighbor has dist <= ub, hence lives in a scanned
    bucket, so the fallback is exact.

    Scale: round 1 shuffles 9x the per-cell center density per point; round 2
    touches only boundary/sparse points and is bounded by bucket fan-out.
    Distance is planar degrees (no antimeridian wrap), matching knn_join and
    the DuckDB oracle.
    """
    from pyspark.sql import Window

    ptx, pty = tilemath.mercator_tile_cols(F.col("lon"), F.col("lat"), zoom)
    p = points.withColumn("_tx", ptx).withColumn("_ty", pty)
    ctx, cty = tilemath.mercator_tile_cols(F.col("cx"), F.col("cy"), zoom)
    c = centers.withColumn("_ckey", tilemath.packed_cell_id_col(ctx, cty, zoom))

    off = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("x"), F.lit(dy).alias("y"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("_o")
    pc = (p.select("*", off)
          .withColumn("_ckey", tilemath.packed_cell_id_col(
              F.col("_tx") + F.col("_o.x"), F.col("_ty") + F.col("_o.y"), zoom))
          .drop("_o"))

    dx = F.col("lon") - F.col("cx")
    dy = F.col("lat") - F.col("cy")
    dist = F.sqrt(dx * dx + dy * dy)
    # LEFT join: probe cells with no centers keep one null-dist row, so
    # EVERY point owns a rank-1 row — per-point stats then read off the
    # rank-1 rows directly instead of a groupBy + join-back-to-points
    # (round-3 cut: two shuffle operators off the critical path)
    cand = pc.join(c, "_ckey", "left").withColumn("dist", dist)
    wk = Window.partitionBy(point_key).orderBy(
        F.col("dist").asc_nulls_last(), F.col("region_id").asc_nulls_last())
    top = (cand.withColumn("rank", F.row_number().over(wk))
           .where(F.col("rank") <= k))

    # ring guard: distance to the nearest cell edge beyond the 3x3 block
    guard = F.least(
        F.col("lon") - tilemath.tile_lon_edge_col(F.col("_tx") - 1, zoom),
        tilemath.tile_lon_edge_col(F.col("_tx") + 2, zoom) - F.col("lon"),
        tilemath.tile_lat_edge_col(F.col("_ty") - 1, zoom) - F.col("lat"),
        F.col("lat") - tilemath.tile_lat_edge_col(F.col("_ty") + 2, zoom))
    wp = Window.partitionBy(point_key)
    # _cnt counts REAL candidates (count of non-null dist — null rows are
    # the left join's empty-probe placeholders)
    top = (top.withColumn("_cnt", F.count("dist").over(wp))
           .withColumn("_kth", F.max("dist").over(wp))
           .withColumn("_ok", (F.col("_cnt") == k) & (F.col("_kth") <= guard)))
    # `top` feeds TWO consumers (resolved rows and the fallback's rank-1
    # stats rows). By default the plan stays fully lazy (no build-time job
    # — pinned by test_ring_knn_build_is_lazy) and Catalyst recomputes the
    # subtree per consumer; materialize_candidates=True checkpoints it once
    # (<= k rows per probe point), trading one blocking job at build for
    # the recompute — choose per pipeline.
    if materialize_candidates:
        top = top.localCheckpoint()
    resolved = top.where(F.col("_ok") & F.col("dist").isNotNull())

    # upper bound for the fallback search per point: every point owns a
    # rank-1 row (left-join placeholder when no candidate), so the stats
    # read straight off it — no groupBy, no join back to the point table
    unres = (top.where(~F.col("_ok") & (F.col("rank") == 1))
             .withColumn("_ub", F.when(F.col("_cnt") == k, F.col("_kth"))
                         .otherwise(F.lit(float("inf"))))
             .drop("_ckey", "region_id", "cx", "cy", "dist", "rank",
                   "_cnt", "_kth", "_ok"))

    # STR packing: equal-count spatial buckets from approx quantiles of the
    # row-major cell id. The cuts are a LAZY percentile_approx aggregate
    # broadcast-joined back in — no eager driver action, the whole kNN stays
    # one Catalyst plan (round-1 fix: the old per-call approxQuantile ran a
    # blocking job inside every pipeline that touched this operator)
    fracs = [i / str_buckets for i in range(1, str_buckets)]
    cuts_df = c.agg(F.percentile_approx(
        F.col("_ckey").cast("double"),
        F.array(*[F.lit(q) for q in fracs]), F.lit(10000)).alias("_cuts"))
    # bucket index = number of quantile cuts <= cell id (a JVM fold, no UDF)
    cb = (c.crossJoin(F.broadcast(cuts_df))
          .withColumn("_bkt", F.aggregate(
              F.col("_cuts"), F.lit(0),
              lambda acc, q: acc + F.when(
                  q <= F.col("_ckey").cast("double"), 1).otherwise(0)))
          .drop("_cuts"))
    bboxes = (cb.groupBy("_bkt")
              .agg(F.min("cx").alias("_bxmin"), F.max("cx").alias("_bxmax"),
                   F.min("cy").alias("_bymin"), F.max("cy").alias("_bymax")))
    mdx = F.greatest(F.lit(0.0), F.col("_bxmin") - F.col("lon"),
                     F.col("lon") - F.col("_bxmax"))
    mdy = F.greatest(F.lit(0.0), F.col("_bymin") - F.col("lat"),
                     F.col("lat") - F.col("_bymax"))
    cand2 = (unres.join(F.broadcast(bboxes),
                        F.sqrt(mdx * mdx + mdy * mdy) <= F.col("_ub"))
             .join(cb.drop("_ckey"), "_bkt")
             .withColumn("dist", dist)
             .where(F.col("dist") <= F.col("_ub")))
    fallback = (cand2.withColumn("rank", F.row_number().over(wk))
                .where(F.col("rank") <= k))

    drop_cols = ["_tx", "_ty", "_ckey", "_cnt", "_kth", "_ok", "_ub", "_bkt",
                 "_bxmin", "_bxmax", "_bymin", "_bymax", "cx", "cy"]
    return resolved.drop(*drop_cols).unionByName(fallback.drop(*drop_cols))


def distance_join(points: DataFrame, centers: DataFrame, radius: float) -> DataFrame:
    """All (point, center) pairs within planar `radius` degrees.

    Broadcast band-join: prefilter on bbox (|dx|<=r AND |dy|<=r) is part of the
    join condition so Catalyst evaluates it inside the broadcast hash loop;
    exact circle test afterwards. For big-big cases, map both sides to cells at
    a zoom where cell size ~ radius and equi-join on neighboring cells.
    """
    cond = ((F.col("lon") >= F.col("cx") - radius) & (F.col("lon") <= F.col("cx") + radius)
            & (F.col("lat") >= F.col("cy") - radius) & (F.col("lat") <= F.col("cy") + radius))
    d = points.join(F.broadcast(centers), cond)
    dx = F.col("lon") - F.col("cx")
    dy = F.col("lat") - F.col("cy")
    d = d.withColumn("dist", F.sqrt(dx * dx + dy * dy))
    return d.where(F.col("dist") <= radius).drop("cx", "cy")


def first_match_join(primary: DataFrame, secondary: DataFrame, on: str,
                     order_col) -> DataFrame:
    """OGR SQL join cardinality: each primary row joins only the FIRST
    matching secondary row (ogr_gensql.cpp:1505-1535 re-filters the secondary
    layer per primary row and takes GetNextFeature() once). We pin "first" to
    lowest `order_col` (deterministic; the reference's order is driver
    iteration order). Left-outer flavored: unmatched primaries survive with
    NULL secondary columns.
    """
    from pyspark.sql import Window
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(on).orderBy(*[F.col(c).asc() for c in cols])
    first = (secondary.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1).drop("_rn"))
    return primary.join(first, on, "left")
