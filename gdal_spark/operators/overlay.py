"""Layer x layer spatial overlay: Intersection, Union, SymDifference,
Identity, Update, Clip, Erase — the full OGRLayer overlay family.

Re-expresses OGRLayer's overlay ops (/root/reference/ogr/ogrsf_frmts/
generic/ogrlayer.cpp — Intersection :2633, Union :3051, SymDifference :3588,
Identity :4018, Update :4436, Clip :4785, Erase :5094; inner per-feature
algorithm :2695-2830: envelope skip -> SetSpatialFilter on the method layer
-> prepared-geometry pretest -> exact GEOS op) as Spark stages:

  * the method layer is COLLECTED and broadcast (one decode per worker) —
    the same small-side assumption OGR makes by re-filtering the method
    layer per feature;
  * each subject Arrow batch prefilters method candidates with a vectorized
    envelope intersect (the :2695 envelope skip), then applies the exact
    numpy kernel: Sutherland–Hodgman / wedge decomposition when the method
    polygon is a single convex ring (the fast path), the general
    slab-decomposition boolean (core.polyclip.geom_boolean) otherwise —
    concave method polygons, holes and multipolygons are all supported;
  * Union / SymDifference additionally need the REVERSE leftovers
    (method \\ union(subjects), ogrlayer.cpp:3139/:3641): subjects hitting
    each method shuffle BY METHOD ID (a bounded-by-selectivity shuffle) and
    fold a difference per method id in applyInPandas.

Cardinality contracts (matching the reference):
  intersection  one row per intersecting (subject, method) pair,
                attrs of both sides (ogrlayer.cpp:2766-2830)
  union         intersection pairs + subject \\ union(methods) with NULL
                method attrs + method \\ union(subjects) with NULL subject
                attrs (ogrlayer.cpp:3051)
  symdifference subject \\ union(methods) + method \\ union(subjects)
                (ogrlayer.cpp:3588)
  clip          one row per subject that intersects >=1 method; geometry =
                subject ∩ union(methods) — exact when methods don't overlap
                (each pair-piece kept as a separate multipolygon part)
  erase         one row per subject with non-empty subject \\ union(methods)
  identity      intersection pairs + the left-over subject \\ union(methods)
                with NULL method attrs (ogrlayer.cpp:4018)
  update        method rows (with NULL subject attrs) + subject \\
                union(methods) (ogrlayer.cpp:4436)
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import geomops, polyclip, wkb

_MODES = ("intersection", "union", "symdifference", "clip", "erase",
          "identity", "update")


def _method_rows(method: DataFrame, mid_col: str):
    """Collect the method layer as (mid, kernel, envelope).

    kernel is ("convex", ring) for a single convex ring — served by the
    half-plane fast path — or ("general", Geom) for anything else (concave,
    holes, multipolygon), served by the slab-decomposition boolean kernel.
    """
    rows = method.select(mid_col, "geom").collect()
    mids, kernels, envs = [], [], []
    for r in rows:
        g = wkb.decode(bytes(r.geom))
        polys = g.polygons()
        mids.append(int(r[mid_col]))
        if len(polys) == 1 and len(polys[0]) == 1 \
                and geomops.is_convex_ring(polys[0][0]):
            kernels.append(("convex", polys[0][0], None))
        else:
            # slab edges precomputed ONCE and shipped in the broadcast:
            # the boolean kernel then skips the per-(subject, method)
            # re-decomposition of the method side
            kernels.append(("general", g, polyclip._edges_of(g)))
        envs.append(g.envelope())
    return mids, kernels, np.array(envs, dtype=np.float64).reshape(-1, 4)


def _clip_one(g, kernel, gedges=None):
    """subject ∩ one method geometry -> Geom or None. gedges: optional
    precomputed subject edges (same subject clipped by many methods)."""
    kind, m, medges = kernel
    if kind == "convex":
        return geomops.clip_geom_convex(g, m)
    return polyclip.geom_boolean(g, m, "intersection", ea=gedges, eb=medges)


def _erase_one(g, kernel):
    """subject \\ one method geometry -> Geom or None."""
    if g is None:
        return None
    kind, m, medges = kernel
    if kind == "convex":
        return geomops.erase_geom_convex(g, m)
    return polyclip.geom_boolean(g, m, "difference", eb=medges)


def _flatten(piece):
    if piece is None:
        return []
    return piece.parts if piece.gtype == wkb.MULTIPOLYGON else [piece]


def overlay(subject: DataFrame, method: DataFrame, mode: str,
            mid_col: str = "mid") -> DataFrame:
    """Overlay `subject` (any DF with a `geom` WKB column) against a small
    `method` layer (mid_col + geom; any polygonal geometry — concave, holes
    and multipolygons included). Returns subject columns with `geom`
    replaced by the result piece, plus `mid_col` (NULL where the contract
    says so). Distribution: map-only over subject except union/symdifference,
    which add one selectivity-bounded shuffle for the reverse leftovers."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}")
    mids, kernels, envs = _method_rows(method, mid_col)
    bc = subject.sparkSession.sparkContext.broadcast((mids, kernels, envs))

    subj_fields = [f for f in subject.schema.fields if f.name != "geom"]
    out_schema = T.StructType(
        subj_fields + [T.StructField(mid_col, T.LongType()),
                       T.StructField("geom", T.BinaryType())])
    subj_cols = [f.name for f in subj_fields]
    want_pairs = mode in ("intersection", "identity", "union")
    want_clip = mode == "clip"
    want_rest = mode in ("erase", "identity", "update", "union",
                         "symdifference")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m_ids, m_kernels, m_envs = bc.value
        for pdf in batches:
            out = []
            geoms = pdf["geom"].values
            g_envs = geomops.envelopes(geoms)
            attr_arrays = [pdf[c].values for c in subj_cols]
            for i in range(len(pdf)):
                g = wkb.decode(bytes(geoms[i]))
                e = g_envs[i]
                hit = np.flatnonzero(
                    (m_envs[:, 0] <= e[2]) & (m_envs[:, 2] >= e[0])
                    & (m_envs[:, 1] <= e[3]) & (m_envs[:, 3] >= e[1]))
                attrs = tuple(a[i] for a in attr_arrays)
                clip_parts = []
                rest = g
                gedges = polyclip._edges_of(g) if len(hit) and \
                    (want_pairs or want_clip) else None
                for k in hit:
                    if want_pairs or want_clip:
                        piece = _clip_one(g, m_kernels[k], gedges)
                        if piece is not None and want_pairs:
                            out.append(attrs + (m_ids[k],
                                                wkb.encode(piece)))
                        if piece is not None and want_clip:
                            clip_parts.extend(_flatten(piece))
                    if want_rest and rest is not None:
                        rest = _erase_one(rest, m_kernels[k])
                if want_clip and clip_parts:
                    merged = clip_parts[0] if len(clip_parts) == 1 else \
                        wkb.Geom(wkb.MULTIPOLYGON, parts=clip_parts)
                    out.append(attrs + (None, wkb.encode(merged)))
                if want_rest and rest is not None:
                    out.append(attrs + (None, wkb.encode(rest)))
            yield pd.DataFrame(out, columns=subj_cols + ["_mid_", "geom"]) \
                .rename(columns={"_mid_": mid_col}) if out else \
                pd.DataFrame(columns=subj_cols + [mid_col, "geom"])

    res = subject.mapInPandas(run, out_schema)

    if mode == "update":
        m_side = method.select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in subj_fields],
            F.col(mid_col).cast("long"), F.col("geom"))
        res = res.unionByName(m_side)

    if mode in ("union", "symdifference"):
        res = res.unionByName(
            _reverse_leftovers(subject, method, mid_col, bc, subj_fields))
    return res


_REVERSE_SALT = 8


def _reverse_leftovers(subject: DataFrame, method: DataFrame, mid_col: str,
                       bc, subj_fields,
                       salt: int = _REVERSE_SALT) -> DataFrame:
    """method \\ union(subjects): the Union/SymDifference reverse side
    (ogrlayer.cpp:3139 pass 2). Subjects whose envelope hits a method
    shuffle by (method id, salt bucket) — m \\ (A∪B) = (m\\A) ∩ (m\\B), so
    each bucket folds its partial difference in parallel and a second
    stage intersects the (<= salt) partials per method. A continent-sized
    method polygon hit by many subjects therefore spreads over `salt`
    tasks instead of serializing on one reducer (round-2 finding #5).
    Extra non-intersecting subjects are harmless — difference by a
    disjoint geometry is identity."""
    pair_schema = T.StructType([T.StructField("_mid", T.LongType()),
                                T.StructField("_salt", T.IntegerType()),
                                T.StructField("_sgeom", T.BinaryType())])

    def emit_hits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m_ids, _k, m_envs = bc.value
        for pdf in batches:
            geoms = pdf["geom"].values
            g_envs = geomops.envelopes(geoms)
            out_mid, out_salt, out_geom = [], [], []
            for i in range(len(pdf)):
                e = g_envs[i]
                hit = np.flatnonzero(
                    (m_envs[:, 0] <= e[2]) & (m_envs[:, 2] >= e[0])
                    & (m_envs[:, 1] <= e[3]) & (m_envs[:, 3] >= e[1]))
                if not len(hit):
                    continue
                b = bytes(geoms[i])
                # deterministic across workers (python hash() is
                # process-salted; recomputation of this branch must
                # assign identical buckets or the per-mid bucket COUNT
                # check in fold_meet would drift)
                sv = zlib.crc32(b) % salt
                for k in hit:
                    out_mid.append(m_ids[k])
                    out_salt.append(sv)
                    out_geom.append(b)
            yield pd.DataFrame({"_mid": pd.Series(out_mid, dtype="int64"),
                                "_salt": pd.Series(out_salt, dtype="int32"),
                                "_sgeom": pd.Series(out_geom,
                                                    dtype="object")})

    hits = subject.select("geom").mapInPandas(emit_hits, pair_schema)

    fold_schema = T.StructType([T.StructField("_mid", T.LongType()),
                                T.StructField("geom", T.BinaryType())])

    def fold_part(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        """m \\ union(bucket subjects) for one (mid, salt) bucket."""
        m_ids, m_kernels, _e = bc.value
        mid = int(key[0])
        k = m_ids.index(mid)
        kind, m, medges = m_kernels[k]
        g = m if kind == "general" else wkb.Geom(
            wkb.POLYGON, [np.asarray(m, dtype=np.float64)])
        first = True
        for sb in pdf["_sgeom"].values:
            g = polyclip.geom_boolean(
                g, wkb.decode(bytes(sb)), "difference",
                ea=medges if (first and kind == "general") else None)
            first = False
            if g is None:
                break
        if g is None:
            return pd.DataFrame(columns=["_mid", "geom"])
        return pd.DataFrame([(mid, wkb.encode(g))], columns=["_mid", "geom"])

    def fold_meet(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        """Intersect the per-bucket partials: m\\(A∪B) = (m\\A) ∩ (m\\B).
        A mid missing a bucket's row means that bucket emptied the method
        — the whole difference is empty too ONLY if a partial is empty,
        which surfaces as a missing row: handled by counting below."""
        mid = int(key[0])
        n = int(pdf.iloc[0]["_nbuckets"])
        if len(pdf) < n:
            return pd.DataFrame(columns=["_mid", "geom"])   # a bucket -> ∅
        g = wkb.decode(bytes(pdf.iloc[0]["geom"]))
        for b in pdf["geom"].values[1:]:
            g = polyclip.geom_boolean(g, wkb.decode(bytes(b)),
                                      "intersection")
            if g is None:
                break
        if g is None:
            return pd.DataFrame(columns=["_mid", "geom"])
        return pd.DataFrame([(mid, wkb.encode(g))], columns=["_mid", "geom"])

    parts = hits.groupBy("_mid", "_salt").applyInPandas(fold_part,
                                                        fold_schema)
    nb = hits.groupBy("_mid").agg(
        F.countDistinct("_salt").alias("_nbuckets"))
    reduced = (parts.join(nb, "_mid")
               .groupBy("_mid").applyInPandas(fold_meet, fold_schema))
    untouched = (method.select(F.col(mid_col).cast("long").alias("_mid"),
                               "geom")
                 .join(hits.select("_mid").distinct(), "_mid", "left_anti"))
    rev = reduced.unionByName(untouched)
    null_subj = [F.lit(None).cast(f.dataType).alias(f.name)
                 for f in subj_fields]
    return rev.select(*null_subj, F.col("_mid").alias(mid_col),
                      F.col("geom"))


# ---------------------------------------------------------------------------
# big x big overlay: cell-cover shuffle join (no driver collect)
# ---------------------------------------------------------------------------

def _cover_cells_df(df: DataFrame, key_col: str, cell_size: float,
                    prefix: str) -> DataFrame:
    """(cell, key, geom): explode each geometry over the grid cells its
    envelope touches — the same cover-then-equi-join machinery as pip_join,
    at a caller-chosen cell size (pick ~ the median geometry extent)."""
    env_schema = T.StructType([
        T.StructField(key_col, df.schema[key_col].dataType),
        T.StructField("geom", T.BinaryType()),
        T.StructField("_cx0", T.LongType()),
        T.StructField("_cy0", T.LongType()),
        T.StructField("_cx1", T.LongType()),
        T.StructField("_cy1", T.LongType()),
    ])

    def envs(batches):
        for pdf in batches:
            e = geomops.envelopes(pdf["geom"].values)
            out = pdf[[key_col, "geom"]].copy()
            out["_cx0"] = np.floor(e[:, 0] / cell_size).astype(np.int64)
            out["_cy0"] = np.floor(e[:, 1] / cell_size).astype(np.int64)
            out["_cx1"] = np.floor(e[:, 2] / cell_size).astype(np.int64)
            out["_cy1"] = np.floor(e[:, 3] / cell_size).astype(np.int64)
            yield out

    withenv = df.select(key_col, "geom").mapInPandas(envs, env_schema)
    cx = F.explode(F.sequence("_cx0", "_cx1")).alias("_ccx")
    withx = withenv.select("*", cx)
    cy = F.explode(F.sequence("_cy0", "_cy1")).alias("_ccy")
    return (withx.select("*", cy)
            .select(key_col, "geom",
                    (F.col("_ccx") * F.lit(1 << 32) + F.col("_ccy") +
                     F.lit(1 << 62)).alias("cell"))
            .withColumnRenamed("geom", f"{prefix}geom"))


def overlay_join(subject: DataFrame, method: DataFrame, mode: str,
                 cell_size: float, sid_col: str = "sid",
                 mid_col: str = "mid") -> DataFrame:
    """Overlay for method layers TOO BIG to broadcast: cell-cover both
    sides, equi-join on cell, dedup (sid, mid), exact boolean per pair,
    and per-key difference folds for the leftover sides — no driver
    collect anywhere (the scale path the broadcast `overlay` docstring
    promised; subject attrs beyond sid_col are not carried — join them
    back on sid afterwards).

    Returns (sid, mid, geom) with NULLs per the same cardinality contracts
    as `overlay` (intersection/union/symdifference/identity/update/clip/
    erase)."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}")
    s_cells = _cover_cells_df(subject, sid_col, cell_size, "s_")
    m_cells = _cover_cells_df(method, mid_col, cell_size, "m_")
    # NOTE: `pairs` feeds up to five consumers; caching it was measured
    # SLOWER here (the rows carry both geometry blobs — materializing them
    # costs more than recomputing the cell join), so the plan stays lazy
    pairs = (s_cells.join(m_cells, "cell")
             .dropDuplicates([sid_col, mid_col]))

    sid_t = subject.schema[sid_col].dataType
    mid_t = method.schema[mid_col].dataType
    piece_schema = T.StructType([
        T.StructField(sid_col, sid_t), T.StructField(mid_col, mid_t),
        T.StructField("geom", T.BinaryType())])

    def cut(op):
        def run(batches):
            for pdf in batches:
                out = []
                for r in pdf.itertuples():
                    gs = wkb.decode(bytes(getattr(r, "s_geom")))
                    mb = bytes(getattr(r, "m_geom"))
                    gm = wkb.decode_cached(mb)
                    piece = polyclip.geom_boolean(
                        gs, gm, op, eb=polyclip.edges_cached(gm, mb))
                    if piece is not None:
                        out.append((getattr(r, sid_col),
                                    getattr(r, mid_col),
                                    wkb.encode(piece)))
                yield pd.DataFrame(out, columns=[sid_col, mid_col, "geom"]) \
                    if out else pd.DataFrame(columns=[sid_col, mid_col,
                                                      "geom"])
        return run

    inter = pairs.mapInPandas(cut("intersection"), piece_schema)

    def fold_diff(key_col_name, own_geom, other_geom,
                  salt: int = _REVERSE_SALT):
        """own \\ union(others) per key — salted two-stage fold, same
        (m\\A) ∩ (m\\B) identity as _reverse_leftovers, so one hot key
        spreads over `salt` tasks instead of serializing."""
        kt = sid_t if key_col_name == sid_col else mid_t
        schema = T.StructType([
            T.StructField(key_col_name, kt),
            T.StructField("geom", T.BinaryType())])

        salted = pairs.withColumn(
            "_salt", F.pmod(F.xxhash64(other_geom), F.lit(salt)))

        def fold_part(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            ob = bytes(pdf.iloc[0][own_geom])
            g = wkb.decode_cached(ob)
            first = True
            for b in pdf[other_geom].values:
                g = polyclip.geom_boolean(
                    g, wkb.decode(bytes(b)), "difference",
                    ea=polyclip.edges_cached(g, ob) if first else None)
                first = False
                if g is None:
                    break
            if g is None:
                return pd.DataFrame(columns=[key_col_name, "geom"])
            return pd.DataFrame([(key[0], wkb.encode(g))],
                                columns=[key_col_name, "geom"])

        def fold_meet(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            n = int(pdf.iloc[0]["_nbuckets"])
            if len(pdf) < n:
                return pd.DataFrame(columns=[key_col_name, "geom"])
            g = wkb.decode(bytes(pdf.iloc[0]["geom"]))
            for b in pdf["geom"].values[1:]:
                g = polyclip.geom_boolean(g, wkb.decode(bytes(b)),
                                          "intersection")
                if g is None:
                    break
            if g is None:
                return pd.DataFrame(columns=[key_col_name, "geom"])
            return pd.DataFrame([(key[0], wkb.encode(g))],
                                columns=[key_col_name, "geom"])

        parts = salted.groupBy(key_col_name, "_salt") \
            .applyInPandas(fold_part, schema)
        nb = salted.groupBy(key_col_name).agg(
            F.countDistinct("_salt").alias("_nbuckets"))
        return (parts.join(nb, key_col_name)
                .groupBy(key_col_name).applyInPandas(fold_meet, schema))

    def untouched(side_df, key_col_name):
        return side_df.select(key_col_name, "geom") \
            .join(pairs.select(key_col_name).distinct(), key_col_name,
                  "left_anti")

    null_mid = F.lit(None).cast(mid_t).alias(mid_col)
    null_sid = F.lit(None).cast(sid_t).alias(sid_col)

    s_rest = fold_diff(sid_col, "s_geom", "m_geom") \
        .unionByName(untouched(subject, sid_col)) \
        .select(F.col(sid_col), null_mid, "geom")
    m_rest = fold_diff(mid_col, "m_geom", "s_geom") \
        .unionByName(untouched(method, mid_col)) \
        .select(null_sid, F.col(mid_col), "geom")
    inter_rows = inter.select(sid_col, mid_col, "geom")

    if mode == "intersection":
        return inter_rows
    if mode == "erase":
        return s_rest
    if mode == "identity":
        return inter_rows.unionByName(s_rest)
    if mode == "union":
        return inter_rows.unionByName(s_rest).unionByName(m_rest)
    if mode == "symdifference":
        return s_rest.unionByName(m_rest)
    if mode == "update":
        return s_rest.unionByName(
            method.select(null_sid, F.col(mid_col), "geom"))
    # clip: subject ∩ union(methods) = one row per subject with hits
    clip_schema = T.StructType([
        T.StructField(sid_col, sid_t), T.StructField(mid_col, mid_t),
        T.StructField("geom", T.BinaryType())])

    def clip_fold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gs = wkb.decode(bytes(pdf.iloc[0]["s_geom"]))
        pieces = []
        for b in pdf["m_geom"].values:
            p_ = polyclip.geom_boolean(gs, wkb.decode(bytes(b)),
                                       "intersection")
            if p_ is not None:
                pieces.extend(_flatten(p_))
        if not pieces:
            return pd.DataFrame(columns=[sid_col, mid_col, "geom"])
        merged = pieces[0] if len(pieces) == 1 else \
            wkb.Geom(wkb.MULTIPOLYGON, parts=pieces)
        return pd.DataFrame([(key[0], None, wkb.encode(merged))],
                            columns=[sid_col, mid_col, "geom"])

    return pairs.groupBy(sid_col).applyInPandas(clip_fold, clip_schema)
