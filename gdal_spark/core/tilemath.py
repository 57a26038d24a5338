"""Tile / cell math: Web-Mercator and Geodetic TMS pyramids, quadkeys, Hilbert.

Numerically replicates the reference formulas (public knowledge, spherical
mercator / TMS spec):

- ``GlobalMercator``  — /root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:328-545
- ``GlobalGeodetic``  — gdal2tiles.py:547-620
- ``QuadTree`` quadkey — gdal2tiles.py:524-543
- Hilbert curve (public-domain rawrunprotected/hilbert_curves variant used by
  FlatGeobuf) — /root/reference/ogr/ogrsf_frmts/flatgeobuf/packedrtree.cpp:73-130

Everything here is pure numpy (vectorized over arrays) so it can run inside
Arrow-batched pandas UDFs with no per-row Python. For the hot path we ALSO
provide Catalyst column-expression builders (``mercator_tile_cols`` etc.) so
tile assignment of billions of rows stays JVM-side inside whole-stage codegen
— the numpy versions are the oracle used in tests.
"""

from __future__ import annotations

import math

import numpy as np

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = 2 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
TILE_SIZE = 256
INITIAL_RESOLUTION = 2 * math.pi * EARTH_RADIUS / TILE_SIZE  # 156543.03392804062
MAX_ZOOM = 32
MERC_MAX_LAT = 85.05112877980659


# ---------------------------------------------------------------------------
# numpy (vectorized) implementations — the in-UDF / test-oracle path
# ---------------------------------------------------------------------------

def latlon_to_meters(lat, lon):
    """WGS84 lat/lon -> spherical-mercator meters (EPSG:3857)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    return mx, my


def meters_to_latlon(mx, my):
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180.0 / math.pi * (2.0 * np.arctan(np.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    return lat, lon


def resolution(zoom):
    return INITIAL_RESOLUTION / (2 ** zoom)


def meters_to_pixels(mx, my, zoom):
    res = resolution(zoom)
    px = (np.asarray(mx, dtype=np.float64) + ORIGIN_SHIFT) / res
    py = (np.asarray(my, dtype=np.float64) + ORIGIN_SHIFT) / res
    return px, py


def pixels_to_meters(px, py, zoom):
    res = resolution(zoom)
    mx = np.asarray(px, dtype=np.float64) * res - ORIGIN_SHIFT
    my = np.asarray(py, dtype=np.float64) * res - ORIGIN_SHIFT
    return mx, my


def pixels_to_tile(px, py):
    """tile covering pixel coords; TMS convention (tx = ceil(px/256)-1)."""
    tx = np.ceil(np.asarray(px, dtype=np.float64) / float(TILE_SIZE)).astype(np.int64) - 1
    ty = np.ceil(np.asarray(py, dtype=np.float64) / float(TILE_SIZE)).astype(np.int64) - 1
    return tx, ty


def meters_to_tile(mx, my, zoom):
    px, py = meters_to_pixels(mx, my, zoom)
    return pixels_to_tile(px, py)


def latlon_to_tile_tms(lat, lon, zoom):
    mx, my = latlon_to_meters(lat, lon)
    return meters_to_tile(mx, my, zoom)


def tms_to_google(tx, ty, zoom):
    """TMS -> XYZ/Google: flip y origin from bottom-left to top-left."""
    return np.asarray(tx), (2 ** zoom - 1) - np.asarray(ty)


def latlon_to_tile_xyz(lat, lon, zoom):
    tx, ty = latlon_to_tile_tms(lat, lon, zoom)
    return tms_to_google(tx, ty, zoom)


def tile_bounds_meters(tx, ty, zoom):
    """EPSG:3857 bounds (minx,miny,maxx,maxy) of a TMS tile."""
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    minx, miny = pixels_to_meters(tx * TILE_SIZE, ty * TILE_SIZE, zoom)
    maxx, maxy = pixels_to_meters((tx + 1) * TILE_SIZE, (ty + 1) * TILE_SIZE, zoom)
    return minx, miny, maxx, maxy


def zoom_for_pixel_size(pixel_size: float) -> int:
    for i in range(MAX_ZOOM):
        if pixel_size > resolution(i):
            return max(0, i - 1)
    return MAX_ZOOM - 1


def quadkey(tx, ty, zoom):
    """Microsoft quadkey of a TMS tile (string), vectorized.

    Matches gdal2tiles.py:524-543 (QuadTree): y is first flipped to XYZ.
    """
    tx = np.atleast_1d(np.asarray(tx, dtype=np.int64))
    ty = np.atleast_1d(np.asarray(ty, dtype=np.int64))
    ty = (2 ** zoom - 1) - ty
    out = np.full(tx.shape, "", dtype=object)
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        digit = ((tx & mask) != 0).astype(np.int64) + 2 * ((ty & mask) != 0).astype(np.int64)
        out = out + digit.astype(str).astype(object)
    return out


def quadkey_int(tx_xyz, ty_xyz, zoom):
    """Integer cell id: interleave bits of XYZ tile coords (Z-order/quadkey
    as base-4 integer) plus zoom tag. This is the engine's canonical cell id:
    cell = (zoom << 58) | morton(tx, ty). Fits zoom<=28 in int64."""
    tx = np.asarray(tx_xyz, dtype=np.uint64)
    ty = np.asarray(ty_xyz, dtype=np.uint64)
    m = _interleave2(tx) | (_interleave2(ty) << np.uint64(1))
    return (np.uint64(zoom) << np.uint64(58) | m).astype(np.int64)


def _interleave2(v):
    """Spread bits of 29-bit ints: b -> b with zeros interleaved."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def hilbert_u32(x, y):
    """16-bit-per-axis Hilbert index (matches FlatGeobuf packedrtree.cpp:73-130,
    itself public-domain rawrunprotected/hilbert_curves)."""
    x = np.asarray(x, dtype=np.uint32)
    y = np.asarray(y, dtype=np.uint32)
    F = np.uint32(0xFFFF)
    a = x ^ y
    b = F ^ a
    c = F ^ (x | y)
    d = x & (y ^ F)
    A = a | (b >> 1)
    B = (a >> 1) ^ a
    C = ((c >> 1) ^ (b & (d >> 1))) ^ c
    D = ((a & (c >> 1)) ^ (d >> 1)) ^ d
    a, b, c, d = A, B, C, D
    A = (a & (a >> 2)) ^ (b & (b >> 2))
    B = (a & (b >> 2)) ^ (b & ((a ^ b) >> 2))
    C = c ^ ((a & (c >> 2)) ^ (b & (d >> 2)))
    D = d ^ ((b & (c >> 2)) ^ ((a ^ b) & (d >> 2)))
    a, b, c, d = A, B, C, D
    A = (a & (a >> 4)) ^ (b & (b >> 4))
    B = (a & (b >> 4)) ^ (b & ((a ^ b) >> 4))
    C = c ^ ((a & (c >> 4)) ^ (b & (d >> 4)))
    D = d ^ ((b & (c >> 4)) ^ ((a ^ b) & (d >> 4)))
    a, b, c, d = A, B, C, D
    C = c ^ ((a & (c >> 8)) ^ (b & (d >> 8)))
    D = d ^ ((b & (c >> 8)) ^ ((a ^ b) & (d >> 8)))
    a = C ^ (C >> 1)
    b = D ^ (D >> 1)
    i0 = x ^ y
    i1 = b | (F ^ (i0 | a))
    i0 = (i0 | (i0 << 8)) & np.uint32(0x00FF00FF)
    i0 = (i0 | (i0 << 4)) & np.uint32(0x0F0F0F0F)
    i0 = (i0 | (i0 << 2)) & np.uint32(0x33333333)
    i0 = (i0 | (i0 << 1)) & np.uint32(0x55555555)
    i1 = (i1 | (i1 << 8)) & np.uint32(0x00FF00FF)
    i1 = (i1 | (i1 << 4)) & np.uint32(0x0F0F0F0F)
    i1 = (i1 | (i1 << 2)) & np.uint32(0x33333333)
    i1 = (i1 | (i1 << 1)) & np.uint32(0x55555555)
    return (i1 << 1) | i0


# ---------------------------------------------------------------------------
# cell covers (geometry -> list of covering cells) — used by the spatial join
# ---------------------------------------------------------------------------

def cover_envelope_xyz(xmin, ymin, xmax, ymax, zoom):
    """All XYZ (google) tiles intersecting a lat/lon envelope, as a python
    list of (tx, ty). Scalar envelope in lon/lat degrees."""
    ymin = max(ymin, -MERC_MAX_LAT)
    ymax = min(ymax, MERC_MAX_LAT)
    tx0, ty0 = latlon_to_tile_xyz(np.float64(ymax), np.float64(xmin), zoom)  # top-left
    tx1, ty1 = latlon_to_tile_xyz(np.float64(ymin), np.float64(xmax), zoom)  # bottom-right
    n = 2 ** zoom
    tx0 = int(np.clip(tx0, 0, n - 1)); tx1 = int(np.clip(tx1, 0, n - 1))
    ty0 = int(np.clip(ty0, 0, n - 1)); ty1 = int(np.clip(ty1, 0, n - 1))
    return [(tx, ty) for ty in range(min(ty0, ty1), max(ty0, ty1) + 1)
            for tx in range(min(tx0, tx1), max(tx0, tx1) + 1)]


SUB_BITS = 3  # hierarchical-cover refinement: 2^3 x 2^3 = 64 subcells/cell,
              # one int64 bitmask per (region, cell) classifies every subcell


# ---------------------------------------------------------------------------
# Geodetic (EPSG:4326) TMS profile — GlobalGeodetic, gdal2tiles.py:547-620
# (2x1 tiles at zoom 0, resolution 180/tile/2^z, origin bottom-left)
# ---------------------------------------------------------------------------

def geodetic_resolution(zoom):
    return 180.0 / TILE_SIZE / (2 ** zoom)


def latlon_to_tile_geodetic(lat, lon, zoom):
    """TMS tile of a lon/lat point in the geodetic profile (numpy)."""
    res = geodetic_resolution(zoom)
    px = (180.0 + np.asarray(lon, dtype=np.float64)) / res
    py = (90.0 + np.asarray(lat, dtype=np.float64)) / res
    return pixels_to_tile(px, py)


def geodetic_tile_cols(lon_col, lat_col, zoom):
    """Column twin of latlon_to_tile_geodetic (TMS orientation)."""
    from pyspark.sql import functions as F
    res = geodetic_resolution(zoom)
    px = (lon_col + 180.0) / res
    py = (lat_col + 90.0) / res
    tx = F.ceil(px / float(TILE_SIZE)).cast("long") - 1
    ty = F.ceil(py / float(TILE_SIZE)).cast("long") - 1
    return tx, ty


def geodetic_tile_sql(lon_expr: str, lat_expr: str, zoom: int):
    """DuckDB twin of geodetic_tile_cols."""
    res = geodetic_resolution(zoom)
    px = f"((({lon_expr}) + 180.0) / {res!r})"
    py = f"((({lat_expr}) + 90.0) / {res!r})"
    tx = f"(CAST(ceil({px} / 256.0) AS BIGINT) - 1)"
    ty = f"(CAST(ceil({py} / 256.0) AS BIGINT) - 1)"
    return tx, ty


def tile_lon_edges_xyz(txs, zoom):
    """Longitude of the WEST edge of XYZ column tx, via the same
    meters->degrees path as tile_bounds_meters (bit-consistent)."""
    txs = np.asarray(txs, dtype=np.float64)
    mx = txs * TILE_SIZE * resolution(zoom) - ORIGIN_SHIFT
    return (mx / ORIGIN_SHIFT) * 180.0


def tile_lat_edges_xyz(tys, zoom):
    """Latitude of the NORTH edge of XYZ row ty (strictly decreasing in ty)."""
    tys = np.asarray(tys, dtype=np.float64)
    world = TILE_SIZE * (2 ** zoom)
    my = (world - tys * TILE_SIZE) * resolution(zoom) - ORIGIN_SHIFT
    lat_deg = (my / ORIGIN_SHIFT) * 180.0
    return 180.0 / math.pi * (
        2.0 * np.arctan(np.exp(lat_deg * math.pi / 180.0)) - math.pi / 2.0)


def packed_cell_id(tx_xyz, ty_xyz, zoom):
    """JOIN-key cell id: (zoom << 58) | (ty << 29) | tx — flat packing, NOT
    Morton. Equality semantics are identical to quadkey_int (bijective per
    zoom); we use this for equi-join keys because its column-expression twin
    is a 3-op chain, while the Morton spread's bit-twiddling repeats every
    subexpression and blows whole-stage codegen out of the JIT (measured
    ~2000x slower per row). quadkey_int stays the STORAGE/sort-order id where
    Z-order locality matters (Iceberg sort, §2.13)."""
    tx = np.asarray(tx_xyz, dtype=np.int64)
    ty = np.asarray(ty_xyz, dtype=np.int64)
    return (np.int64(zoom) << np.int64(58)) | (ty << np.int64(29)) | tx


def tile_bounds_latlon_xyz(tx, ty, zoom):
    """(lon_min, lat_min, lon_max, lat_max) of an XYZ tile."""
    n = 2 ** zoom
    ty_tms = (n - 1) - ty
    minx, miny, maxx, maxy = tile_bounds_meters(tx, ty_tms, zoom)
    lat0, lon0 = meters_to_latlon(minx, miny)
    lat1, lon1 = meters_to_latlon(maxx, maxy)
    return float(lon0), float(lat0), float(lon1), float(lat1)


def cover_envelopes_cellids(xmins, ymins, xmaxs, ymaxs, zoom):
    """Vector-of-lists: int64 JOIN-key cell ids (packed_cell_id) covering each
    envelope (lon/lat degrees). Returns a list of numpy arrays (ragged)."""
    out = []
    for xmin, ymin, xmax, ymax in zip(xmins, ymins, xmaxs, ymaxs):
        tiles = cover_envelope_xyz(float(xmin), float(ymin), float(xmax), float(ymax), zoom)
        txs = np.array([t[0] for t in tiles], dtype=np.int64)
        tys = np.array([t[1] for t in tiles], dtype=np.int64)
        out.append(packed_cell_id(txs, tys, zoom))
    return out


# ---------------------------------------------------------------------------
# Catalyst column-expression builders — the JVM-side hot path
# ---------------------------------------------------------------------------

def mercator_meters_cols(lon_col, lat_col):
    """(mx, my) Columns from lon/lat Columns. Pure built-in functions —
    stays inside whole-stage codegen."""
    from pyspark.sql import functions as F
    mx = lon_col * ORIGIN_SHIFT / 180.0
    my = (F.log(F.tan((F.lit(90.0) + lat_col) * math.pi / 360.0))
          / (math.pi / 180.0)) * ORIGIN_SHIFT / 180.0
    return mx, my


def mercator_tile_cols(lon_col, lat_col, zoom):
    """(tile_x, tile_y) XYZ/google tile Columns at `zoom` from lon/lat Columns.

    Mirrors latlon_to_tile_xyz exactly (same double-precision operations in
    the same order), so JVM results match the numpy oracle bit-for-bit.
    """
    from pyspark.sql import functions as F
    mx, my = mercator_meters_cols(lon_col, lat_col)
    res = resolution(zoom)
    px = (mx + ORIGIN_SHIFT) / res
    py = (my + ORIGIN_SHIFT) / res
    tx = F.ceil(px / float(TILE_SIZE)).cast("long") - 1
    ty_tms = F.ceil(py / float(TILE_SIZE)).cast("long") - 1
    ty = F.lit(2 ** zoom - 1) - ty_tms
    return tx, ty


def mercator_tile_sql(lon_expr: str, lat_expr: str, zoom: int):
    """Equivalent ANSI-SQL (DuckDB-compatible) expressions for the XYZ tile —
    the oracle-side twin of mercator_tile_cols."""
    res = resolution(zoom)
    mx = f"(({lon_expr}) * {ORIGIN_SHIFT!r} / 180.0)"
    my = (f"(ln(tan((90.0 + ({lat_expr})) * pi() / 360.0)) / (pi() / 180.0)"
          f" * {ORIGIN_SHIFT!r} / 180.0)")
    px = f"(({mx} + {ORIGIN_SHIFT!r}) / {res!r})"
    py = f"(({my} + {ORIGIN_SHIFT!r}) / {res!r})"
    tx = f"(CAST(ceil({px} / 256.0) AS BIGINT) - 1)"
    ty = f"({2 ** zoom - 1} - (CAST(ceil({py} / 256.0) AS BIGINT) - 1))"
    return tx, ty


def mercator_pixel_cols(lon_col, lat_col, zoom):
    """(gpx, gpy) global integer pixel Columns at `zoom`, XYZ orientation
    (y down from the top), 256 px tiles. gpx in [0, 256*2^zoom)."""
    from pyspark.sql import functions as F
    mx, my = mercator_meters_cols(lon_col, lat_col)
    res = resolution(zoom)
    world = TILE_SIZE * (2 ** zoom)
    gpx = F.floor((mx + ORIGIN_SHIFT) / res)
    gpy = F.lit(world - 1) - F.floor((my + ORIGIN_SHIFT) / res)
    return gpx, gpy


def mercator_pixel_float_cols(lon_col, lat_col, zoom):
    """(xc, yc) CONTINUOUS global pixel Columns at `zoom`, XYZ orientation —
    the coordinate space of InterpolateAtPoint (pixel centers at i+0.5;
    floor(xc/yc) equals mercator_pixel_cols for non-integer coords)."""
    from pyspark.sql import functions as F
    mx, my = mercator_meters_cols(lon_col, lat_col)
    res = resolution(zoom)
    world = float(TILE_SIZE * (2 ** zoom))
    xc = (mx + ORIGIN_SHIFT) / res
    yc = F.lit(world) - (my + ORIGIN_SHIFT) / res
    return xc, yc


def mercator_pixel_float_sql(lon_expr: str, lat_expr: str, zoom: int):
    """DuckDB twin of mercator_pixel_float_cols."""
    res = resolution(zoom)
    world = float(TILE_SIZE * (2 ** zoom))
    mx = f"(({lon_expr}) * {ORIGIN_SHIFT!r} / 180.0)"
    my = (f"(ln(tan((90.0 + ({lat_expr})) * pi() / 360.0)) / (pi() / 180.0)"
          f" * {ORIGIN_SHIFT!r} / 180.0)")
    xc = f"(({mx} + {ORIGIN_SHIFT!r}) / {res!r})"
    yc = f"({world!r} - (({my} + {ORIGIN_SHIFT!r}) / {res!r}))"
    return xc, yc


def mercator_pixel_sql(lon_expr: str, lat_expr: str, zoom: int):
    """DuckDB twin of mercator_pixel_cols."""
    res = resolution(zoom)
    world = TILE_SIZE * (2 ** zoom)
    mx = f"(({lon_expr}) * {ORIGIN_SHIFT!r} / 180.0)"
    my = (f"(ln(tan((90.0 + ({lat_expr})) * pi() / 360.0)) / (pi() / 180.0)"
          f" * {ORIGIN_SHIFT!r} / 180.0)")
    gpx = f"CAST(floor(({mx} + {ORIGIN_SHIFT!r}) / {res!r}) AS BIGINT)"
    gpy = (f"({world - 1} - CAST(floor(({my} + {ORIGIN_SHIFT!r}) / {res!r})"
           f" AS BIGINT))")
    return gpx, gpy


def tile_lon_edge_col(tx_col, zoom):
    """Column twin of tile_lon_edges_xyz: longitude of the WEST edge of XYZ
    column tx."""
    from pyspark.sql import functions as F
    res = resolution(zoom)
    mx = tx_col.cast("double") * float(TILE_SIZE) * res - ORIGIN_SHIFT
    return mx / ORIGIN_SHIFT * 180.0


def tile_lat_edge_col(ty_col, zoom):
    """Column twin of tile_lat_edges_xyz: latitude of the NORTH edge of XYZ
    row ty."""
    from pyspark.sql import functions as F
    world = float(TILE_SIZE * (2 ** zoom))
    my = (F.lit(world) - ty_col.cast("double") * float(TILE_SIZE)) \
        * resolution(zoom) - ORIGIN_SHIFT
    lat_deg = my / ORIGIN_SHIFT * 180.0
    return F.degrees(F.lit(2.0) * F.atan(F.exp(F.radians(lat_deg)))
                     - F.lit(math.pi / 2.0))


def packed_cell_id_col(tx_col, ty_col, zoom):
    """Column twin of packed_cell_id — single-reference op chain that stays
    inside one whole-stage-codegen method (the join-key hot path)."""
    from pyspark.sql import functions as F
    return (F.lit(zoom << 58)
            .bitwiseOR(F.shiftleft(ty_col.cast("long"), 29))
            .bitwiseOR(tx_col.cast("long")))


def cell_id_col(tx_col, ty_col, zoom):
    """int64 cell id Column = (zoom<<58) | morton(tx,ty) via bit ops only.

    Mirrors quadkey_int. Uses shiftleft/bitwise ops — JVM-side.
    """
    from pyspark.sql import functions as F

    def spread(c):
        v = c.cast("long")
        v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x3333333333333333))
        v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x5555555555555555))
        return v

    m = spread(tx_col).bitwiseOR(F.shiftleft(spread(ty_col), 1))
    return F.lit(zoom << 58).bitwiseOR(m)


# ---------------------------------------------------------------------------
# Geohash (public base-32 cell encoding; Niemeyer 2008) — the third cell
# scheme next to XYZ quadkeys and Morton ids. Geohash interleaving IS a
# Morton code with longitude on the even bit positions (counting from the
# LSB of the packed integer), so the same magic-number spread used by
# cell_id_col applies — no per-bit expression blowup, one codegen method.
# ---------------------------------------------------------------------------

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

_SPREAD_STEPS = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                 (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                 (1, 0x5555555555555555))


def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    for sh, mask in _SPREAD_STEPS:
        v = (v | (v << np.int64(sh))) & np.int64(mask)
    return v


def geohash_np(lon, lat, precision: int = 9) -> np.ndarray:
    """Vectorized geohash strings. precision in [1, 12] (<= 60 bits).

    lon gets ceil(5p/2) bits, lat floor(5p/2); the geohash bit order puts
    the longitude MSB at the packed integer's MSB (bit 5p-1). When 5p is
    odd that MSB sits on an EVEN position counted from the LSB (lon on
    even positions); when 5p is even it sits on an ODD position, so the
    lon/lat spread lanes must swap — packing lon on even positions for
    even precisions yields wrong hashes ('mzs8' instead of 'ezs4')."""
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lon_i = np.clip(np.floor((lon + 180.0) / 360.0 * (1 << nlon)),
                    0, (1 << nlon) - 1).astype(np.int64)
    lat_i = np.clip(np.floor((lat + 90.0) / 180.0 * (1 << nlat)),
                    0, (1 << nlat) - 1).astype(np.int64)
    if nbits % 2:
        packed = _spread_np(lon_i) | (_spread_np(lat_i) << np.int64(1))
    else:
        packed = _spread_np(lat_i) | (_spread_np(lon_i) << np.int64(1))
    chars = np.empty((precision, lon_i.size), dtype="U1")
    alph = np.array(list(GEOHASH_B32))
    for c in range(precision):
        idx = (packed >> np.int64(5 * (precision - 1 - c))) & np.int64(31)
        chars[c] = alph[idx]
    out = chars[0]
    for c in range(1, precision):
        out = np.char.add(out, chars[c])
    return out


def geohash_decode_np(ghs) -> tuple[np.ndarray, ...]:
    """(lon_lo, lat_lo, lon_hi, lat_hi) cell bounds of geohash strings
    (all the same length)."""
    ghs = np.asarray(ghs)
    precision = len(str(ghs.flat[0]))
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lut = {ch: i for i, ch in enumerate(GEOHASH_B32)}
    packed = np.zeros(ghs.shape, dtype=np.int64)
    for c in range(precision):
        vals = np.array([lut[str(g)[c]] for g in ghs.flat],
                        dtype=np.int64).reshape(ghs.shape)
        packed = (packed << np.int64(5)) | vals
    # un-interleave; lon sits on even LSB positions for odd 5p, odd for even
    lon_off, lat_off = (0, 1) if nbits % 2 else (1, 0)
    lon_i = np.zeros_like(packed)
    lat_i = np.zeros_like(packed)
    for b in range(nlon):
        lon_i |= ((packed >> np.int64(2 * b + lon_off)) & np.int64(1)) << np.int64(b)
    for b in range(nlat):
        lat_i |= ((packed >> np.int64(2 * b + lat_off)) & np.int64(1)) << np.int64(b)
    lon_lo = lon_i / float(1 << nlon) * 360.0 - 180.0
    lat_lo = lat_i / float(1 << nlat) * 180.0 - 90.0
    return (lon_lo, lat_lo,
            lon_lo + 360.0 / (1 << nlon), lat_lo + 180.0 / (1 << nlat))


def _spread_col(col):
    from pyspark.sql import functions as F
    v = col.cast("long")
    for sh, mask in _SPREAD_STEPS:
        v = (v.bitwiseOR(F.shiftleft(v, sh))).bitwiseAND(F.lit(mask))
    return v


def geohash_col(lon_col, lat_col, precision: int = 9):
    """Column twin of geohash_np — pure JVM bit math + a 32-way array
    lookup per character; stays inside whole-stage codegen (the same
    spread chain as cell_id_col, measured safe for the JIT)."""
    from pyspark.sql import functions as F
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lon_i = F.least(
        F.greatest(F.floor((lon_col + F.lit(180.0)) / F.lit(360.0)
                           * F.lit(float(1 << nlon))).cast("long"),
                   F.lit(0)), F.lit((1 << nlon) - 1))
    lat_i = F.least(
        F.greatest(F.floor((lat_col + F.lit(90.0)) / F.lit(180.0)
                           * F.lit(float(1 << nlat))).cast("long"),
                   F.lit(0)), F.lit((1 << nlat) - 1))
    if nbits % 2:
        packed = _spread_col(lon_i).bitwiseOR(
            F.shiftleft(_spread_col(lat_i), 1))
    else:
        packed = _spread_col(lat_i).bitwiseOR(
            F.shiftleft(_spread_col(lon_i), 1))
    alph = F.array(*[F.lit(ch) for ch in GEOHASH_B32])
    chars = []
    for c in range(precision):
        idx = F.shiftright(packed, 5 * (precision - 1 - c)) \
            .bitwiseAND(F.lit(31))
        chars.append(F.element_at(alph, (idx + F.lit(1)).cast("int")))
    return F.concat(*chars)


def geohash_sql_ctes(pts_sql: str, precision: int = 9,
                     lon: str = "lon", lat: str = "lat",
                     keep: str = "doc_id") -> str:
    """DuckDB twin of geohash_col as a CTE chain ending in view ``gh``
    with columns (<keep>, gh). The spread steps become one CTE each so
    the SQL stays linear-sized (no exponential textual expansion)."""
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    s = [f"g0 AS (SELECT {keep}, "
         f" least(greatest(CAST(floor(({lon} + 180.0) / 360.0 * {float(1 << nlon)}) AS BIGINT), 0), {(1 << nlon) - 1}) AS li, "
         f" least(greatest(CAST(floor(({lat} + 90.0) / 180.0 * {float(1 << nlat)}) AS BIGINT), 0), {(1 << nlat) - 1}) AS ti "
         f" FROM ({pts_sql}))"]
    prev = "g0"
    for i, (sh, mask) in enumerate(_SPREAD_STEPS, 1):
        s.append(f"g{i} AS (SELECT {keep}, "
                 f"(li | (li << {sh})) & {mask} AS li, "
                 f"(ti | (ti << {sh})) & {mask} AS ti FROM {prev})")
        prev = f"g{i}"
    chars = " || ".join(
        f"substr('{GEOHASH_B32}', "
        f"CAST(((p >> {5 * (precision - 1 - c)}) & 31) + 1 AS INTEGER), 1)"
        for c in range(precision))
    pack = "(li | (ti << 1))" if nbits % 2 else "(ti | (li << 1))"
    s.append(f"gp AS (SELECT {keep}, {pack} AS p FROM {prev})")
    s.append(f"gh AS (SELECT {keep}, {chars} AS gh FROM gp)")
    return ",\n".join(s)
