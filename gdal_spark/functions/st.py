"""ST_ scalar function surface as Arrow-batched pandas UDFs.

Mirrors the SQL function names the reference's SQLITE dialect registers
(/root/reference/ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:723-1238:
ST_Area, ST_Length, ST_AsText, ST_GeomFromText, the full 8-predicate set
:875-884, the geometry-combine quartet ST_Intersection/ST_Union/
ST_Difference/ST_SymDifference :930-935) and the OGRGeometry method surface
(/root/reference/ogr/ogrgeometry.cpp — Area/Length via OGR_G_Area, Centroid
:6106, Simplify :6360, ConvexHull :4186, Buffer :4526, Distance :3562).

All functions take/return WKB ``bytes`` columns; compute is vectorized numpy
inside each Arrow batch (core.geomops) — never per-row Python. Register into
a session with ``register_all(spark)`` so ``spark.sql("... ST_Area(geom) ...")``
works.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType)

from ..core import geomops, polyclip, wkb


def _decode_series(s: pd.Series):
    return [wkb.decode_cached(bytes(b)) if b is not None else None for b in s]


def _single_ring_areas(geom: pd.Series):
    """Vectorized shoelace for homogeneous single-ring polygon batches —
    None if the batch is mixed (caller falls back to scalar)."""
    sr = wkb.single_ring_batch(list(geom))
    if sr is None:
        return None
    off, coords = sr
    if len(coords) == 0:
        return np.zeros(len(geom))
    x, y = coords[:, 0], coords[:, 1]
    c = np.r_[x[:-1] * y[1:] - x[1:] * y[:-1], 0.0]
    seg = np.add.reduceat(c, off[:-1])
    seg -= c[off[1:] - 1]          # drop the spurious ring-boundary term
    return 0.5 * np.abs(seg)


@pandas_udf(DoubleType())
def st_area(geom: pd.Series) -> pd.Series:
    fast = _single_ring_areas(geom)
    if fast is not None:
        return pd.Series(fast, dtype="float64")
    return pd.Series([geomops.geom_area(g) if g else None
                      for g in _decode_series(geom)], dtype="float64")


@pandas_udf(DoubleType())
def st_length(geom: pd.Series) -> pd.Series:
    return pd.Series([geomops.geom_length(g) if g else None
                      for g in _decode_series(geom)], dtype="float64")


@pandas_udf(DoubleType())
def st_curve_length(geom: pd.Series) -> pd.Series:
    """Exact curve length: CIRCULARSTRING/COMPOUNDCURVE/CURVEPOLYGON
    WKB decodes with curves=True and each arc contributes R*sweep in
    closed form (geomops.arc_params) — no stroking, unlike the ingest
    path's ST_Length which measures the linearized geometry."""
    return pd.Series(
        [geomops.curve_length(wkb.decode(bytes(b), curves=True))
         if b is not None else None for b in geom], dtype="float64")


@pandas_udf(DoubleType())
def st_curve_area(geom: pd.Series) -> pd.Series:
    """Exact CURVEPOLYGON area: arc-endpoint shoelace plus signed
    circular-segment terms (R^2/2)(sweep - sin sweep) per arc."""
    return pd.Series(
        [geomops.curve_area(wkb.decode(bytes(b), curves=True))
         if b is not None else None for b in geom], dtype="float64")


@pandas_udf(DoubleType())
def st_x(geom: pd.Series) -> pd.Series:
    pts = wkb.points_batch(list(geom))
    if pts is not None:
        return pd.Series(pts[:, 0], dtype="float64")
    return pd.Series([float(g.points()[0, 0]) if g is not None else None
                      for g in _decode_series(geom)], dtype="float64")


@pandas_udf(DoubleType())
def st_y(geom: pd.Series) -> pd.Series:
    pts = wkb.points_batch(list(geom))
    if pts is not None:
        return pd.Series(pts[:, 1], dtype="float64")
    return pd.Series([float(g.points()[0, 1]) if g is not None else None
                      for g in _decode_series(geom)], dtype="float64")


@pandas_udf(StringType())
def st_geohash(geom: pd.Series, prec: pd.Series) -> pd.Series:
    """ST_GeoHash(point_wkb, precision) — base-32 geohash of a point
    (PostGIS signature; Niemeyer encoding, pinned to the public
    'ezs42'/'u4pruydqqvj' vectors in tests). Vectorized: the WKB batch
    lane extracts all coordinates at once, then one numpy interleave
    per distinct precision in the batch."""
    from ..core import tilemath
    pts = wkb.points_batch(list(geom))
    if pts is None:
        xs, ys = [], []
        for g in _decode_series(geom):
            p = g.points()[0] if g is not None else (np.nan, np.nan)
            xs.append(float(p[0]))
            ys.append(float(p[1]))
        pts = np.stack([np.array(xs), np.array(ys)], axis=1)
    pr = prec.fillna(9).astype("int64").to_numpy()
    out = np.empty(len(pr), dtype=object)
    for p in np.unique(pr):
        m = pr == p
        out[m] = tilemath.geohash_np(pts[m, 0], pts[m, 1], int(p))
    return pd.Series(out, dtype="object")


@pandas_udf(DoubleType())
def st_centroid_x(geom: pd.Series) -> pd.Series:
    out = []
    for g in _decode_series(geom):
        c = geomops.geom_centroid(g) if g else None
        out.append(c[0] if c else None)
    return pd.Series(out, dtype="float64")


@pandas_udf(DoubleType())
def st_centroid_y(geom: pd.Series) -> pd.Series:
    out = []
    for g in _decode_series(geom):
        c = geomops.geom_centroid(g) if g else None
        out.append(c[1] if c else None)
    return pd.Series(out, dtype="float64")


@pandas_udf(StringType())
def st_astext(geom: pd.Series) -> pd.Series:
    return pd.Series([wkb.to_wkt(bytes(b)) if b is not None else None
                      for b in geom], dtype="object")


@pandas_udf(BinaryType())
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    return pd.Series([wkb.from_wkt(s) if s is not None else None for s in wkt],
                     dtype="object")


@pandas_udf(StringType())
def st_geometrytype(geom: pd.Series) -> pd.Series:
    return pd.Series([wkb.TYPE_NAMES[wkb.decode(bytes(b)).gtype]
                      if b is not None else None for b in geom], dtype="object")


def _envelope_col(geom: pd.Series, idx: int) -> pd.Series:
    """Shared lane for the ST_MinX/MinY/MaxX/MaxY accessors
    (ogrsqlitesqlfunctions.cpp:343-380 OGR2SQLITE_ST_MinX family):
    envelopes come from the vectorized frombuffer parsers — no per-ring
    decode in the common single-ring/point cases."""
    import numpy as np
    blist = list(geom)
    vidx = [i for i, b in enumerate(blist) if b is not None]
    out = [None] * len(blist)
    if vidx:
        envs = geomops.envelopes([bytes(blist[i]) for i in vidx])
        for j, i in enumerate(vidx):
            v = envs[j, idx]
            out[i] = None if np.isnan(v) else float(v)
    return pd.Series(out, dtype="object").astype("float64")


@pandas_udf(DoubleType())
def st_minx(geom: pd.Series) -> pd.Series:
    return _envelope_col(geom, 0)


@pandas_udf(DoubleType())
def st_miny(geom: pd.Series) -> pd.Series:
    return _envelope_col(geom, 1)


@pandas_udf(DoubleType())
def st_maxx(geom: pd.Series) -> pd.Series:
    return _envelope_col(geom, 2)


@pandas_udf(DoubleType())
def st_maxy(geom: pd.Series) -> pd.Series:
    return _envelope_col(geom, 3)


@pandas_udf(BinaryType())
def st_envelope(geom: pd.Series) -> pd.Series:
    """ST_Envelope — the bounding-box polygon (OGRGeometry::getEnvelope
    rendered as a 5-point ring, matching OGR_G_GetEnvelope + box
    construction)."""
    import numpy as np
    out = []
    for b in geom:
        if b is None:
            out.append(None)
            continue
        e = geomops.envelopes([bytes(b)])[0]
        out.append(None if np.isnan(e[0])
                   else wkb.box(float(e[0]), float(e[1]),
                                float(e[2]), float(e[3])))
    return pd.Series(out, dtype="object")


def _tree_npoints(g) -> int:
    return sum(len(r) for r in g.rings) \
        + sum(_tree_npoints(p) for p in g.parts)


@pandas_udf(LongType())
def st_npoints(geom: pd.Series) -> pd.Series:
    """ST_NPoints — total vertex count over all rings/parts
    (OGR_G_GetPointCount summed over the geometry tree)."""
    out = []
    for g in _decode_series(geom):
        out.append(None if g is None else int(_tree_npoints(g)))
    return pd.Series(out, dtype="object").astype("Int64")


@pandas_udf(LongType())
def st_numgeometries(geom: pd.Series) -> pd.Series:
    """ST_NumGeometries — part count for multi/collection types, 1 for
    simple types (OGR_G_GetGeometryCount semantics on multis)."""
    out = []
    for g in _decode_series(geom):
        if g is None:
            out.append(None)
        else:
            out.append(int(len(g.parts)) if g.parts else 1)
    return pd.Series(out, dtype="object").astype("Int64")


def _predicate_batch(a: pd.Series, b: pd.Series, scalar,
                     env_disjoint_value: bool,
                     point_lane: str | None = None) -> pd.Series:
    """Filter-refine lane for the binary predicates (round-3 batch lanes):
    envelopes come from the vectorized frombuffer parsers (no decode), and
    envelope-disjoint pairs short-circuit to `env_disjoint_value`. When
    the refine side A is ALL single points (points_batch) and
    point_lane is 'intersects'/'disjoint', the point-vs-polygon test runs
    grouped by unique B through the same points_in_polygon /
    _points_on_lines_mask kernels the scalar path uses — identical
    results, one vectorized call per distinct polygon. Everything else
    refines through the scalar DE-9IM kernel (which is exact)."""
    alist, blist = list(a), list(b)
    n = len(alist)
    out = [None] * n
    vidx = [i for i in range(n)
            if alist[i] is not None and blist[i] is not None]
    if not vidx:
        return pd.Series(out, dtype="object")
    abufs = [bytes(alist[i]) for i in vidx]
    bbufs = [bytes(blist[i]) for i in vidx]
    ea = geomops.envelopes(abufs)
    eb = geomops.envelopes(bbufs)
    with np.errstate(invalid="ignore"):
        disj = ((ea[:, 0] > eb[:, 2]) | (eb[:, 0] > ea[:, 2])
                | (ea[:, 1] > eb[:, 3]) | (eb[:, 1] > ea[:, 3]))
    refine = []
    for j, i in enumerate(vidx):
        if disj[j]:
            out[i] = env_disjoint_value
        else:
            refine.append(j)
    if not refine:
        return pd.Series(out, dtype="object")

    if point_lane is not None:
        pts = wkb.points_batch([abufs[j] for j in refine])
        if pts is not None:
            groups: dict = {}
            for k, j in enumerate(refine):
                groups.setdefault(bbufs[j], []).append(k)
            for bb, ks in groups.items():
                g = wkb.decode_cached(bb)
                polys = g.polygons()
                rings = geomops._all_line_rings(g)
                px, py = pts[ks, 0], pts[ks, 1]
                hit = np.zeros(len(ks), dtype=bool)
                for rs in polys:
                    hit |= geomops.points_in_polygon(px, py, rs)
                if rings:
                    hit |= geomops._points_on_lines_mask(
                        np.column_stack([px, py]), rings)
                gp = g.points() if not polys and not rings else None
                if gp is not None and len(gp):
                    hit |= np.array(
                        [np.any((gp[:, 0] == x) & (gp[:, 1] == y))
                         for x, y in zip(px, py)])
                val = hit if point_lane == "intersects" else ~hit
                for k, v in zip(ks, val):
                    out[vidx[refine[k]]] = bool(v)
            return pd.Series(out, dtype="object")

    for j in refine:
        ga = wkb.decode_cached(abufs[j])
        gb = wkb.decode_cached(bbufs[j])
        out[vidx[j]] = bool(scalar(ga, gb))
    return pd.Series(out, dtype="object")


@pandas_udf(BooleanType())
def st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_intersects, False,
                            point_lane="intersects")


@pandas_udf(BooleanType())
def st_contains(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_contains, False)


@pandas_udf(BooleanType())
def st_within(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_within, False)


@pandas_udf(BooleanType())
def st_disjoint(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_disjoint, True,
                            point_lane="disjoint")


@pandas_udf(BooleanType())
def st_equals(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_equals, False)


@pandas_udf(BooleanType())
def st_touches(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_touches, False)


@pandas_udf(BooleanType())
def st_crosses(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_crosses, False)


@pandas_udf(BooleanType())
def st_overlaps(a: pd.Series, b: pd.Series) -> pd.Series:
    return _predicate_batch(a, b, geomops.geom_overlaps, False)


def _boolean_series(a: pd.Series, b: pd.Series, op: str) -> pd.Series:
    ga, gb = _decode_series(a), _decode_series(b)
    out = []
    for x, y in zip(ga, gb):
        if x is None and y is None:
            out.append(None)
            continue
        g = polyclip.geom_boolean(x, y, op)
        out.append(wkb.encode(g) if g is not None else None)
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    return _boolean_series(a, b, "intersection")


@pandas_udf(BinaryType())
def st_union(a: pd.Series, b: pd.Series) -> pd.Series:
    return _boolean_series(a, b, "union")


@pandas_udf(BinaryType())
def st_difference(a: pd.Series, b: pd.Series) -> pd.Series:
    return _boolean_series(a, b, "difference")


@pandas_udf(BinaryType())
def st_symdifference(a: pd.Series, b: pd.Series) -> pd.Series:
    return _boolean_series(a, b, "symdifference")


@pandas_udf(DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    ga, gb = _decode_series(a), _decode_series(b)
    return pd.Series([geomops.geom_distance(x, y)
                      if x is not None and y is not None else None
                      for x, y in zip(ga, gb)], dtype="float64")


def _point_pair(a: pd.Series, b: pd.Series):
    """Vectorized decode of two point columns; falls back to the generic
    decoder for non-point/mixed input."""
    pa = wkb.points_batch(list(a))
    pb = wkb.points_batch(list(b))
    if pa is not None and pb is not None:
        return pa, pb
    def cen(s):
        out = np.full((len(s), 2), np.nan)
        for i, g in enumerate(_decode_series(s)):
            if g is not None:
                out[i] = geomops.centroid(g)
        return out
    return cen(a), cen(b)


@pandas_udf(DoubleType())
def st_distance_spheroid(a: pd.Series, b: pd.Series) -> pd.Series:
    """Ellipsoidal (WGS84 Vincenty) geodesic distance in meters between
    two lon/lat points — PostGIS ST_DistanceSpheroid semantics; the
    kernel is pinned to the Geoscience Australia worked example in
    tests/test_transforms_crs.py."""
    from ..raster import transforms as tr
    pa, pb = _point_pair(a, b)
    s, _, _ = tr.geodesic_inverse(pa[:, 0], pa[:, 1], pb[:, 0], pb[:, 1])
    return pd.Series(np.asarray(s, np.float64))


@pandas_udf(DoubleType())
def st_distance_sphere(a: pd.Series, b: pd.Series) -> pd.Series:
    """Great-circle distance on the authalic-radius sphere R=6371000 m
    (PostGIS ST_DistanceSphere's classic constant)."""
    pa, pb = _point_pair(a, b)
    d2r = np.pi / 180.0
    la1, la2 = pa[:, 1] * d2r, pb[:, 1] * d2r
    dl = (pb[:, 0] - pa[:, 0]) * d2r
    cc = np.clip(np.sin(la1) * np.sin(la2)
                 + np.cos(la1) * np.cos(la2) * np.cos(dl), -1.0, 1.0)
    return pd.Series(6371000.0 * np.arccos(cc))


@pandas_udf(DoubleType())
def st_azimuth(a: pd.Series, b: pd.Series) -> pd.Series:
    """Forward geodesic azimuth a -> b in radians, [0, 2*pi), WGS84
    Vincenty (PostGIS ST_Azimuth is planar; this is the spheroidal
    variant, matching PostGIS ST_Azimuth(geography))."""
    from ..raster import transforms as tr
    pa, pb = _point_pair(a, b)
    _, az1, _ = tr.geodesic_inverse(pa[:, 0], pa[:, 1],
                                    pb[:, 0], pb[:, 1])
    d2r = np.pi / 180.0
    return pd.Series(np.asarray(az1, np.float64) * d2r % (2.0 * np.pi))


@pandas_udf(BinaryType())
def st_project(geom: pd.Series, dist: pd.Series,
               azimuth: pd.Series) -> pd.Series:
    """Destination point at geodesic distance (m) and azimuth (radians
    clockwise from north) from a lon/lat point — PostGIS
    ST_Project(geography); WGS84 Vincenty direct problem."""
    from ..raster import transforms as tr
    p = wkb.points_batch(list(geom))
    if p is None:
        out = np.full((len(geom), 2), np.nan)
        for i, g in enumerate(_decode_series(geom)):
            if g is not None:
                out[i] = geomops.centroid(g)
        p = out
    az_deg = np.asarray(azimuth, np.float64) / (np.pi / 180.0)
    lon2, lat2, _ = tr.geodesic_direct(p[:, 0], p[:, 1], az_deg,
                                       np.asarray(dist, np.float64))
    return pd.Series(wkb.encode_points_batch(
        np.stack([lon2, lat2], axis=1)))


@pandas_udf(BinaryType())
def st_convexhull(geom: pd.Series) -> pd.Series:
    out = []
    for g in _decode_series(geom):
        if g is None:
            out.append(None)
            continue
        ring = geomops.convex_hull(geomops._all_vertices(g))
        out.append(wkb.encode(wkb.Geom(wkb.POLYGON, [ring])))
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_makevalid(geom: pd.Series) -> pd.Series:
    out = []
    for g in _decode_series(geom):
        r = polyclip.geom_makevalid(g) if g is not None else None
        out.append(wkb.encode(r) if r is not None else None)
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_curvetoline(geom: pd.Series) -> pd.Series:
    """ISO curve WKB (CircularString/CompoundCurve/CurvePolygon/Multi*)
    -> linearized linear-model WKB (OGRGeometryFactory::curveToLineString
    semantics; a no-op for already-linear input)."""
    out = []
    for b in geom:
        if b is None:
            out.append(None)
            continue
        g = wkb.decode(bytes(b), curves=True)
        out.append(wkb.encode(wkb.linearize_geom(g)))
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_pointonsurface(geom: pd.Series) -> pd.Series:
    out = []
    for g in _decode_series(geom):
        p = polyclip.point_on_surface(g) if g is not None else None
        out.append(wkb.point(p[0], p[1]) if p is not None else None)
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_buffer(geom: pd.Series, dist: pd.Series) -> pd.Series:
    out = []
    for g, d in zip(_decode_series(geom), dist):
        r = geomops.buffer_geom(g, float(d)) if g is not None else None
        out.append(wkb.encode(r) if r is not None else None)
    return pd.Series(out, dtype="object")


@pandas_udf(BooleanType())
def st_isvalid(geom: pd.Series) -> pd.Series:
    return pd.Series([bool(geomops.geom_is_valid(g)) if g is not None
                      else None for g in _decode_series(geom)],
                     dtype="object")


@pandas_udf(BooleanType())
def st_issimple(geom: pd.Series) -> pd.Series:
    return pd.Series([bool(geomops.geom_is_simple(g)) if g is not None
                      else None for g in _decode_series(geom)],
                     dtype="object")


@pandas_udf(BooleanType())
def st_isring(geom: pd.Series) -> pd.Series:
    return pd.Series([bool(geomops.geom_is_ring(g)) if g is not None
                      else None for g in _decode_series(geom)],
                     dtype="object")


@pandas_udf(DoubleType())
def st_geodesic_area(geom: pd.Series) -> pd.Series:
    """ST_Area(geom, 1) of the reference's SQLITE dialect
    (ogrsqlitesqlfunctions.cpp:630-722) — ellipsoidal m^2."""
    return pd.Series([geomops.geom_area_geodesic(g) if g is not None
                      else None for g in _decode_series(geom)],
                     dtype="float64")


@pandas_udf(DoubleType())
def st_geodesic_length(geom: pd.Series) -> pd.Series:
    """ST_Length(geom, 1) — ellipsoidal meters (Vincenty per segment)."""
    return pd.Series([geomops.geom_length_geodesic(g) if g is not None
                      else None for g in _decode_series(geom)],
                     dtype="float64")


@pandas_udf(BinaryType())
def st_delaunay(geom: pd.Series) -> pd.Series:
    """DelaunayTriangulation (ogrgeometry.cpp:6704) over a geometry's
    vertices -> MULTIPOLYGON of triangles."""
    from ..core.delaunay import delaunay as _delaunay
    out = []
    for g in _decode_series(geom):
        if g is None:
            out.append(None)
            continue
        pts = geomops._all_vertices(g)
        tris = _delaunay(pts)
        if not len(tris):
            out.append(None)
            continue
        parts = [wkb.Geom(wkb.POLYGON,
                          [np.vstack([pts[t], pts[t[:1]]])])
                 for t in tris]
        out.append(wkb.encode(wkb.Geom(wkb.MULTIPOLYGON, parts=parts)))
    return pd.Series(out, dtype="object")


@pandas_udf(DoubleType())
def st_hausdorffdistance(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_HausdorffDistance — GEOS discrete Hausdorff (vertices of each
    side against the other side's linework)."""
    out = []
    for ga, gb in zip(_decode_series(a), _decode_series(b)):
        out.append(geomops.hausdorff_distance(ga, gb)
                   if ga is not None and gb is not None else None)
    return pd.Series(out, dtype="float64")


@pandas_udf(BinaryType())
def st_closestpoint(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_ClosestPoint(a, b) — the point ON ``a`` closest to ``b``
    (GEOS nearestPoints[0], exposed by the reference's SQLite
    dialect)."""
    out = []
    for ga, gb in zip(_decode_series(a), _decode_series(b)):
        if ga is None or gb is None:
            out.append(None)
            continue
        (ax, ay), _ = geomops.closest_pair(ga, gb)
        out.append(wkb.point(ax, ay))
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_shortestline(a: pd.Series, b: pd.Series) -> pd.Series:
    """ST_ShortestLine(a, b) — LINESTRING between the closest pair of
    points (GEOS nearestPoints)."""
    out = []
    for ga, gb in zip(_decode_series(a), _decode_series(b)):
        if ga is None or gb is None:
            out.append(None)
            continue
        (ax, ay), (bx, by) = geomops.closest_pair(ga, gb)
        out.append(wkb.encode(wkb.Geom(
            wkb.LINESTRING, [np.array([[ax, ay], [bx, by]])])))
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_snap(a: pd.Series, b: pd.Series, tol: pd.Series) -> pd.Series:
    """ST_Snap(a, b, tolerance) — GEOS GeometrySnapper semantics:
    vertices of ``a`` snap onto ``b`` vertices within tolerance, then
    ``b`` vertices near ``a`` segment interiors are inserted."""
    out = []
    for ga, gb, t in zip(_decode_series(a), _decode_series(b), tol):
        if ga is None or gb is None:
            out.append(None)
            continue
        out.append(wkb.encode(geomops.geom_snap(ga, gb, float(t))))
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_linemerge(geom: pd.Series) -> pd.Series:
    """ST_LineMerge — sew a (multi)linestring's parts together at
    endpoints where exactly two line ends meet (GEOS LineMerger, exposed
    by the reference's SQLite dialect). Single merged line -> LINESTRING,
    else MULTILINESTRING with deterministic part order."""
    out = []
    for g in _decode_series(geom):
        if g is None:
            out.append(None)
            continue
        merged = geomops.line_merge(geomops._all_line_rings(g))
        if len(merged) == 1:
            out.append(wkb.encode(wkb.Geom(wkb.LINESTRING, [merged[0]])))
        else:
            out.append(wkb.encode(wkb.Geom(
                wkb.MULTILINESTRING,
                parts=[wkb.Geom(wkb.LINESTRING, [m]) for m in merged])))
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_polygonize(geom: pd.Series) -> pd.Series:
    """ST_Polygonize / OGRBuildPolygonFromEdges
    (ogr/ogrgeometryfactory.cpp:446): link the input's line segments
    end-to-end into closed rings and return a POLYGON whose largest ring
    is the shell (CCW) and the rest holes (CW). NULL when any chain
    cannot close (the reference returns OGRERR_FAILURE)."""
    out = []
    for g in _decode_series(geom):
        if g is None:
            out.append(None)
            continue
        try:
            poly = geomops.build_polygon_from_edges(
                geomops._all_line_rings(g))
            out.append(wkb.encode(poly))
        except ValueError:
            out.append(None)
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_voronoi(geom: pd.Series, xmin: pd.Series, ymin: pd.Series,
               xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    """ST_VoronoiDiagram(geom, xmin, ymin, xmax, ymax) — Voronoi polygons
    of the geometry's vertices clipped to the given rectangle, returned as
    a MULTIPOLYGON whose parts follow vertex order. The reference exposes
    this surface through its SQLite dialect (ogrsqlitesqlfunctions.cpp
    registers Spatialite's ST_VoronojDiagram, which delegates to
    GEOSVoronoiDiagram); the construction here is the Delaunay dual
    (core/delaunay.voronoi_cells), clipped to an EXPLICIT envelope instead
    of GEOS's automatic extent expansion so results are deterministic."""
    from ..core.delaunay import voronoi_cells
    out = []
    for g, x0, y0, x1, y1 in zip(_decode_series(geom), xmin, ymin,
                                 xmax, ymax):
        if g is None:
            out.append(None)
            continue
        pts = geomops._all_vertices(g)
        cells = voronoi_cells(pts, (float(x0), float(y0),
                                    float(x1), float(y1)))
        parts = [wkb.Geom(wkb.POLYGON, [r]) for r in cells if len(r)]
        out.append(wkb.encode(wkb.Geom(wkb.MULTIPOLYGON, parts=parts))
                   if parts else None)
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def st_makepoint(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series([wkb.point(float(a), float(b))
                      if a is not None and b is not None else None
                      for a, b in zip(x, y)], dtype="object")


@pandas_udf(BinaryType())
def st_asbinary(geom: pd.Series) -> pd.Series:
    """Identity — the engine-wide representation IS ISO WKB."""
    return geom


@pandas_udf(BinaryType())
def st_geomfromwkb(b: pd.Series) -> pd.Series:
    """Validating identity: decodes (raising on malformed WKB), returns
    the canonical little-endian re-encoding."""
    return pd.Series([wkb.encode(wkb.decode(bytes(v)))
                      if v is not None else None for v in b],
                     dtype="object")


@pandas_udf(BinaryType())
def st_setprecision(geom: pd.Series, grid: pd.Series) -> pd.Series:
    """Snap every coordinate to a grid then repair (OGRGeometry::
    SetPrecision, ogrgeometry.cpp:6608 — GEOS_PREC_VALID_OUTPUT mode)."""
    out = []
    for g, gs in zip(_decode_series(geom), grid):
        if g is None:
            out.append(None)
            continue
        step = float(gs)

        def snap(geo):
            rings = [np.round(r / step) * step for r in geo.rings]
            return wkb.Geom(geo.gtype, rings,
                            [snap(p) for p in geo.parts])

        snapped = snap(g)
        if snapped.polygons():
            snapped = polyclip.geom_makevalid(snapped)
        out.append(wkb.encode(snapped) if snapped is not None else None)
    return pd.Series(out, dtype="object")


def _map_coords(g, fn):
    """New Geom with every coordinate array mapped through fn(x, y) ->
    (x2, y2) — the geometry walk behind ST_Transform."""
    rings = []
    for r in g.rings:
        if len(r):
            x2, y2 = fn(r[:, 0], r[:, 1])
            rings.append(np.column_stack([x2, y2]))
        else:
            rings.append(r)
    return wkb.Geom(g.gtype, rings,
                    [_map_coords(p, fn) for p in g.parts])


@pandas_udf(BinaryType())
def st_transform(geom: pd.Series, src: pd.Series,
                 dst: pd.Series) -> pd.Series:
    """ST_Transform(geom, 'src_crs', 'dst_crs') — reprojects every vertex
    (reference registration: ogrsqlitesqlfunctions.cpp:1060
    OGR2SQLITE_ST_Transform; srs arguments accept the EPSG:* whitelist or
    a composable '+proj=' string, raster/transforms.py)."""
    return _st_transform_impl(geom, src, dst)


def _st_transform_impl(geom, src, dst):
    from ..raster.transforms import transform as _xf
    out = []
    for b, s, d in zip(geom, src, dst):
        if b is None:
            out.append(None)
            continue
        g = wkb.decode(bytes(b))
        out.append(wkb.encode(_map_coords(
            g, lambda x, y: _xf(str(s), str(d), x, y))))
    return pd.Series(out, dtype="object")


@pandas_udf(IntegerType())
def st_srid(geom: pd.Series) -> pd.Series:
    """ST_SRID (ogrsqlitesqlfunctions.cpp:723): EWKB-flagged geometries
    report their embedded SRID; plain ISO WKB reports 4326 — this engine's
    layer default (geoparsed lon/lat), standing in for the reference's
    per-layer SRS lookup."""
    import struct
    out = []
    for b in geom:
        if b is None:
            out.append(None)
            continue
        raw = bytes(b)
        t = struct.unpack_from("<I", raw, 1)[0]
        out.append(struct.unpack_from("<i", raw, 5)[0]
                   if t & 0x20000000 else 4326)
    return pd.Series(out, dtype="Int32")


@pandas_udf(BooleanType())
def st_isempty(geom: pd.Series) -> pd.Series:
    """ST_IsEmpty (ogrsqlitesqlfunctions.cpp registration): no coordinates
    anywhere in the geometry tree."""
    return pd.Series([len(g.points()) == 0 if g is not None else None
                      for g in _decode_series(geom)], dtype="object")


@pandas_udf(BinaryType())
def ogr_deflate(val: pd.Series) -> pd.Series:
    """ogr_deflate (ogrsqlitesqlfunctions.cpp:120-170): zlib-compress a
    text or blob value. Text compresses its bytes PLUS the terminating NUL
    (the reference deflates strlen+1). Default level, like the 1-arg form."""
    import zlib
    out = []
    for v in val:
        if v is None:
            out.append(None)
        elif isinstance(v, str):
            out.append(zlib.compress(v.encode("utf-8") + b"\x00"))
        else:
            out.append(zlib.compress(bytes(v)))
    return pd.Series(out, dtype="object")


@pandas_udf(BinaryType())
def ogr_inflate(val: pd.Series) -> pd.Series:
    """ogr_inflate (ogrsqlitesqlfunctions.cpp:176-208): zlib-decompress a
    blob; NULL on anything that does not inflate (the reference errors to
    NULL rather than raising)."""
    import zlib
    out = []
    for v in val:
        if v is None:
            out.append(None)
        else:
            try:
                out.append(zlib.decompress(bytes(v)))
            except Exception:
                out.append(None)
    return pd.Series(out, dtype="object")


@pandas_udf(StringType())
def ogr_version(dummy: pd.Series) -> pd.Series:
    """ogr_version() analog — reports the engine version string (the
    reference reports GDALVersionInfo; registered for script parity)."""
    return pd.Series(["gdal_spark 3.0"] * len(dummy))


@pandas_udf(StringType())
def hstore_get_value(h: pd.Series, key: pd.Series) -> pd.Series:
    """hstore_get_value(hstore_text, key) — OGRHStoreGetValue twin
    (ogr/ogrutils.cpp OGRHStoreGetValue; ogrsqlitesqlfunctions.cpp:1066):
    parse 'k=>v, k2=>v2' pairs (optional double quotes on either side),
    return the value of the first matching key, else NULL."""
    import re
    pat = re.compile(r'\s*(?:"([^"]*)"|([^"=,]*?))\s*=>\s*'
                     r'(?:"([^"]*)"|([^",]*?))\s*(?:,|$)')
    out = []
    for hv, kv in zip(h, key):
        if hv is None or kv is None:
            out.append(None)
            continue
        found = None
        for m in pat.finditer(hv):
            k = m.group(1) if m.group(1) is not None else (m.group(2) or "")
            v = m.group(3) if m.group(3) is not None else (m.group(4) or "")
            if k == kv:
                found = v
                break
        out.append(found)
    return pd.Series(out, dtype="object")


_REGISTRY = {
    "ST_Area": st_area, "ST_Length": st_length,
    "ST_X": st_x, "ST_Y": st_y, "ST_GeoHash": st_geohash,
    "ST_Centroid_X": st_centroid_x, "ST_Centroid_Y": st_centroid_y,
    "ST_AsText": st_astext, "ST_GeomFromText": st_geomfromtext,
    "ST_GeometryType": st_geometrytype,
    "ST_Intersects": st_intersects, "ST_Contains": st_contains,
    "ST_Within": st_within, "ST_Disjoint": st_disjoint,
    "ST_Equals": st_equals, "ST_Touches": st_touches,
    "ST_Crosses": st_crosses, "ST_Overlaps": st_overlaps,
    "ST_Intersection": st_intersection, "ST_Union": st_union,
    "ST_Difference": st_difference, "ST_SymDifference": st_symdifference,
    "ST_Distance": st_distance, "ST_ConvexHull": st_convexhull,
    "ST_MakeValid": st_makevalid, "ST_PointOnSurface": st_pointonsurface,
    "ST_CurveToLine": st_curvetoline,
    "ST_CurveLength": st_curve_length, "ST_CurveArea": st_curve_area,
    "ST_Buffer": st_buffer, "ST_IsValid": st_isvalid,
    "ST_IsSimple": st_issimple, "ST_IsRing": st_isring,
    "ST_GeodesicArea": st_geodesic_area,
    "ST_GeodesicLength": st_geodesic_length,
    "ST_DistanceSpheroid": st_distance_spheroid,
    "ST_DistanceSphere": st_distance_sphere,
    "ST_Azimuth": st_azimuth, "ST_Project": st_project,
    "ST_DelaunayTriangulation": st_delaunay,
    "ST_VoronoiDiagram": st_voronoi,
    "ST_LineMerge": st_linemerge, "ST_Polygonize": st_polygonize,
    "ST_ClosestPoint": st_closestpoint,
    "ST_HausdorffDistance": st_hausdorffdistance,
    "ST_ShortestLine": st_shortestline, "ST_Snap": st_snap,
    "ST_MakePoint": st_makepoint, "ST_AsBinary": st_asbinary,
    "ST_GeomFromWKB": st_geomfromwkb, "ST_SetPrecision": st_setprecision,
    "ST_Transform": st_transform, "ST_SRID": st_srid,
    "ST_IsEmpty": st_isempty,
    "ST_MinX": st_minx, "ST_MinY": st_miny,
    "ST_MaxX": st_maxx, "ST_MaxY": st_maxy,
    "ST_Envelope": st_envelope, "ST_NPoints": st_npoints,
    "ST_NumGeometries": st_numgeometries,
    "ogr_deflate": ogr_deflate, "ogr_inflate": ogr_inflate,
    "ogr_version": ogr_version,
    "hstore_get_value": hstore_get_value,
}


def register_all(spark: SparkSession) -> None:
    for name, fn in _REGISTRY.items():
        spark.udf.register(name, fn)
