"""DEM operators: hillshade / slope / aspect / TRI / TPI / roughness.

Re-expresses gdaldem (/root/reference/apps/gdaldem_lib.cpp:24-75 algorithm
refs; Horn hillshade formula :754-760) as a 3x3 stencil over the tile table
with a ONE-PIXEL HALO EXCHANGE:

  1. every tile emits 9 messages — itself plus 8 edge/corner strips — keyed
     by the neighbor tile that needs them (shuffle volume ~= tiles + edges,
     NOT 9x the raster);
  2. groupBy(target tile) assembles a (T+2)x(T+2) padded array (edge
     replication at raster borders = gdaldem -compute_edges semantics);
  3. numpy evaluates the kernel for all T*T pixels at once.

This is the generic halo pattern for all neighborhood raster ops
(proximity/fillnodata/sieve share it).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import TILE_SCHEMA, decode_px, encode_px

_HALO_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("dx", T.IntegerType()),
    T.StructField("dy", T.IntegerType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("px", T.BinaryType()),
])


def _emit_halo(pdf_iter, tile: int):
    for pdf in pdf_iter:
        out = []
        for row in pdf.itertuples():
            arr = np.frombuffer(row.px, dtype=np.dtype(row.dtype)) \
                .reshape(tile, tile)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        strip = arr
                    else:
                        ys = slice(None) if dy == 0 else (
                            slice(-1, None) if dy == 1 else slice(0, 1))
                        xs = slice(None) if dx == 0 else (
                            slice(-1, None) if dx == 1 else slice(0, 1))
                        strip = arr[ys, xs]
                    out.append({
                        "band": row.band, "zoom": row.zoom,
                        "tile_x": row.tile_x + dx, "tile_y": row.tile_y + dy,
                        "dx": dx, "dy": dy,
                        "dtype": row.dtype, "px": strip.tobytes()})
        yield pd.DataFrame(out) if out else pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in _HALO_SCHEMA.fields})


def _assemble_padded(pdf: pd.DataFrame, tile: int) -> np.ndarray | None:
    """(tile+2)^2 array from the center tile + neighbor strips; edge
    replication where neighbors are absent. None if no center tile (the
    group exists only because of neighbor spill — skip)."""
    center = pdf[(pdf.dx == 0) & (pdf.dy == 0)]
    if center.empty:
        return None
    dtype = np.dtype(center.iloc[0]["dtype"])
    pad = np.zeros((tile + 2, tile + 2), dtype=np.float64)
    got = set()
    for row in pdf.itertuples():
        # a strip sent by neighbor (dx,dy) lands on OUR side (-dx,-dy)
        sdx, sdy = -int(row.dx), -int(row.dy)
        h = tile if sdy == 0 else 1
        w = tile if sdx == 0 else 1
        arr = np.frombuffer(row.px, dtype=dtype).reshape(h, w)
        ys = slice(1, tile + 1) if sdy == 0 else (
            slice(0, 1) if sdy == -1 else slice(tile + 1, tile + 2))
        xs = slice(1, tile + 1) if sdx == 0 else (
            slice(0, 1) if sdx == -1 else slice(tile + 1, tile + 2))
        pad[ys, xs] = arr
        got.add((sdx, sdy))
    # replicate edges where no neighbor exists (raster border)
    if (0, -1) not in got:
        pad[0, 1:-1] = pad[1, 1:-1]
    if (0, 1) not in got:
        pad[-1, 1:-1] = pad[-2, 1:-1]
    if (-1, 0) not in got:
        pad[1:-1, 0] = pad[1:-1, 1]
    if (1, 0) not in got:
        pad[1:-1, -1] = pad[1:-1, -2]
    # corners: clamp each axis independently toward an available cell, so a
    # missing diagonal at a raster border replicates exactly like np.pad(edge)
    for cx in (-1, 1):
        for cy in (-1, 1):
            if (cx, cy) in got:
                continue
            r0 = 0 if cy == -1 else tile + 1
            c0 = 0 if cx == -1 else tile + 1
            rs = r0 if (0, cy) in got else (1 if cy == -1 else tile)
            cs = c0 if (cx, 0) in got else (1 if cx == -1 else tile)
            if rs == r0 and cs == c0:  # both side strips exist, only the
                cs = 1 if cx == -1 else tile  # diagonal is a hole: clamp x
            pad[r0, c0] = pad[rs, cs]
    return pad


def _horn_gradients(pad: np.ndarray, ewres: float, nsres: float):
    """Horn 3x3 gradient (gdaldem_lib.cpp hillshade/slope; window
    [[0 1 2],[3 4 5],[6 7 8]]):
      dz/dx = ((2+2*5+8) - (0+2*3+6)) / (8*ewres)
      dz/dy = ((6+2*7+8) - (0+2*1+2)) / (8*nsres)
    """
    z = [pad[i:i + pad.shape[0] - 2, j:j + pad.shape[1] - 2]
         for i in range(3) for j in range(3)]
    dzdx = ((z[2] + 2 * z[5] + z[8]) - (z[0] + 2 * z[3] + z[6])) / (8.0 * ewres)
    dzdy = ((z[6] + 2 * z[7] + z[8]) - (z[0] + 2 * z[1] + z[2])) / (8.0 * nsres)
    return dzdx, dzdy


def _zt_gradients(pad: np.ndarray, ewres: float, nsres: float):
    """Zevenbergen-Thorne gradient (gdaldem -alg ZevenbergenThorne;
    Gradient<T, ZEVENBERGEN_THORNE>::calc, gdaldem_lib.cpp:711-719):
    only the 4-neighbors, divisor 2 (z_scaled = z/(2*scale))."""
    z = [pad[i:i + pad.shape[0] - 2, j:j + pad.shape[1] - 2]
         for i in range(3) for j in range(3)]
    dzdx = (z[5] - z[3]) / (2.0 * ewres)
    dzdy = (z[7] - z[1]) / (2.0 * nsres)
    return dzdx, dzdy


_GRAD_OPS = ("hillshade", "slope", "aspect", "hillshade_combined",
             "hillshade_multidirectional", "hillshade_igor",
             "slope_percent", "aspect_trig")


def _kernel_outputs(pad, op, ewres, nsres, z_factor, alt_deg, az_deg,
                    alg="horn"):
    if op in _GRAD_OPS:
        grad = _zt_gradients if alg == "zt" else _horn_gradients
        dzdx, dzdy = grad(pad, ewres / z_factor, nsres / z_factor)
        # the reference's scaled gradient terms: a == x*z_scaled,
        # b == y*z_scaled of Gradient::calc (x points LEFT-minus-right)
        a, b = -dzdx, dzdy
        if op == "slope_percent":
            # gdaldem slope -p (GDALSlopeHornAlg slopeFormat==0,
            # gdaldem_lib.cpp:1279): 100 * rise/run, no arctan
            return 100.0 * np.hypot(dzdx, dzdy)
        if op == "aspect_trig":
            # gdaldem aspect -trigonometric (GDALAspectAlg
            # bAngleAsAzimuth=false, gdaldem_lib.cpp:1349-1359): 0-360
            # math convention, flat pixels -> NaN (dst nodata), 360 -> 0
            asp = np.degrees(np.arctan2(dzdy, -dzdx))
            asp = np.where(asp < 0.0, asp + 360.0, asp)
            asp = np.where(asp == 360.0, 0.0, asp)
            return np.where((dzdx == 0) & (dzdy == 0), np.nan, asp)
        if op == "hillshade_combined":
            # GDALHillshadeCombinedAlg (gdaldem_lib.cpp:1077-1105)
            alt, az = math.radians(alt_deg), math.radians(az_deg)
            slope_q = a * a + b * b
            cang = np.arccos(np.clip(
                (math.sin(alt) - (b * math.cos(az) * math.cos(alt)
                                  - a * math.sin(az) * math.cos(alt)))
                / np.sqrt(1.0 + slope_q), -1.0, 1.0))
            cang = 1.0 - cang * np.arctan(np.sqrt(slope_q)) \
                / ((math.pi / 2.0) ** 2)
            return np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)
        if op == "hillshade_multidirectional":
            # GDALHillshadeMultiDirectionalAlg (gdaldem_lib.cpp:1162-1219;
            # USGS OF 92-422 weights); azimuth is ignored by construction
            alt = math.radians(alt_deg)
            sin_alt, cos_alt = math.sin(alt), math.cos(alt)
            c225 = math.cos(math.radians(225.0))
            v225 = np.maximum(127.0 * (sin_alt + (a - b) * c225 * cos_alt),
                              0.0)
            v270 = np.maximum(127.0 * (sin_alt - a * cos_alt), 0.0)
            v315 = np.maximum(127.0 * (sin_alt + (a + b) * c225 * cos_alt),
                              0.0)
            v360 = np.maximum(127.0 * (sin_alt - b * cos_alt), 0.0)
            xy = a * a + b * b
            w225 = 0.5 * xy - a * b
            w270 = a * a
            w315 = xy - w225
            w360 = b * b
            safe = np.where(xy == 0.0, 1.0, xy)
            cang = (w225 * v225 + w270 * v270 + w315 * v315
                    + w360 * v360) / safe / np.sqrt(1.0 + xy)
            return 1.0 + np.where(xy == 0.0, 254.0 * sin_alt, cang)
        if op == "hillshade_igor":
            # GDALHillshadeIgorAlg (gdaldem_lib.cpp:842-898): slope
            # strength x angular distance from the anti-light direction;
            # the aspect uses the UNSCALED window sums
            az = math.radians(az_deg)
            z = [pad[i:i + pad.shape[0] - 2, j:j + pad.shape[1] - 2]
                 for i in range(3) for j in range(3)]
            if alg == "zt":
                rdx = z[5] - z[3]
                rdy = z[7] - z[1]
            else:
                rdx = (z[2] + 2 * z[5] + z[8]) - (z[0] + 2 * z[3] + z[6])
                rdy = (z[6] + 2 * z[7] + z[8]) - (z[0] + 2 * z[1] + z[2])
            aspect = np.arctan2(rdy, -rdx)
            slope_deg = np.degrees(np.arctan(np.hypot(a, b)))
            target = math.fmod(1.5 * math.pi - az, 2.0 * math.pi)
            if target < 0:
                target += 2.0 * math.pi
            diff = np.abs(np.mod(aspect, 2.0 * math.pi) - target)
            diff = np.where(diff > math.pi, 2.0 * math.pi - diff, diff)
            shadow = 1.0 - (slope_deg / 90.0) * (1.0 - diff / math.pi)
            return 255.0 * shadow
        if op == "slope":
            return np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
        if op == "aspect":
            asp = np.degrees(np.arctan2(dzdy, -dzdx))
            asp = np.where(asp < 0, 90.0 - asp,
                           np.where(asp > 90.0, 360.0 - asp + 90.0, 90.0 - asp))
            return asp
        alt, az = math.radians(alt_deg), math.radians(az_deg)
        slope_r = np.arctan(np.hypot(dzdx, dzdy))
        aspect_r = np.arctan2(dzdy, -dzdx)
        shade = (math.sin(alt) * np.cos(slope_r)
                 + math.cos(alt) * np.sin(slope_r)
                 * np.cos(az - math.pi / 2.0 - aspect_r))
        return np.clip(np.round(254.0 * shade) + 1.0, 1.0, 255.0)
    c = pad[1:-1, 1:-1]
    neigh = np.stack([pad[i:i + c.shape[0], j:j + c.shape[1]]
                      for i in range(3) for j in range(3) if not (i == 1 and j == 1)])
    if op == "tri":          # Riley: mean |center - neighbor|
        return np.abs(neigh - c).mean(axis=0)
    if op == "tpi":          # center - mean(neighbors)
        return c - neigh.mean(axis=0)
    if op == "roughness":    # max - min of 3x3 window
        return np.maximum(neigh.max(axis=0), c) - np.minimum(neigh.min(axis=0), c)
    raise ValueError(op)


def dem_op(tiles_df: DataFrame, op: str, tile: int = 256,
           ewres: float = 1.0, nsres: float = 1.0, z_factor: float = 1.0,
           altitude: float = 45.0, azimuth: float = 315.0,
           out_dtype: str = "float64", alg: str = "horn") -> DataFrame:
    """Run one DEM operator over the tile table. Result tile schema matches
    the input (dtype=out_dtype)."""
    from .tiles import TILE_SCHEMA

    halo = tiles_df.mapInPandas(lambda it: _emit_halo(it, tile),
                                schema=_HALO_SCHEMA)

    def compute(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, zoom, tx, ty = (int(key[0]), int(key[1]), int(key[2]), int(key[3]))
        pad = _assemble_padded(pdf, tile)
        if pad is None:
            return pd.DataFrame(columns=[f.name for f in TILE_SCHEMA.fields])
        out = _kernel_outputs(pad, op, ewres, nsres, z_factor,
                              altitude, azimuth,
                              alg=alg).astype(np.dtype(out_dtype))
        return pd.DataFrame([{
            "band": band, "zoom": zoom, "tile_x": tx, "tile_y": ty,
            "dtype": out_dtype, "nodata": None, "px": encode_px(out)}])

    return (halo.groupBy("band", "zoom", "tile_x", "tile_y")
            .applyInPandas(compute, schema=TILE_SCHEMA))


def color_relief(tiles_df: DataFrame, colors, tile: int = 256,
                 interpolate: bool = True) -> DataFrame:
    """gdaldem color-relief (apps/gdaldem_lib.cpp color-relief mode): map
    elevation to RGB through a color table. colors: sorted
    [(value, r, g, b), ...]. interpolate=True blends linearly between
    entries (the default ColorSelectionMode=INTERPOLATE); False snaps to
    the nearest entry at-or-below (EXACT_COLOR_ENTRY-ish floor rule).

    Output: tile table with band 1/2/3 = R/G/B as uint8 payloads — a pure
    per-pixel map, so it is one mapInPandas with no shuffle at all."""
    cvals = np.array([c[0] for c in colors], dtype=np.float64)
    crgb = np.array([[c[1], c[2], c[3]] for c in colors], dtype=np.float64)

    def run(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, tile)
                if interpolate:
                    chans = [np.round(np.interp(arr, cvals, crgb[:, ch]))
                             for ch in range(3)]
                else:
                    idx = np.clip(np.searchsorted(cvals, arr, side="right")
                                  - 1, 0, len(cvals) - 1)
                    chans = [crgb[idx, ch] for ch in range(3)]
                for ch in range(3):
                    out.append((ch + 1, r.zoom, r.tile_x, r.tile_y,
                                "uint8", None,
                                chans[ch].astype(np.uint8).tobytes()))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields]) \
                if out else pd.DataFrame(columns=[f.name for f in
                                                  TILE_SCHEMA.fields])

    return tiles_df.mapInPandas(run, TILE_SCHEMA)


_VIEW_SCHEMA = T.StructType([
    T.StructField("gpx", T.LongType()),
    T.StructField("gpy", T.LongType()),
    T.StructField("visible", T.IntegerType()),
])


def viewshed(tiles_df: DataFrame, ox: float, oy: float, oz: float,
             tile: int = 256, n_rays: int = 720) -> DataFrame:
    """Observer viewshed (alg/viewshed/viewshed.cpp) as a SHUFFLE-BY-RAY
    job: every pixel computes its azimuth/radius/elevation-angle from the
    observer in one JVM-side pass, pixels bucket into `n_rays` angular
    rays, and each ray's visibility is the running-max elevation-angle
    scan over its radius-sorted pixels — the only sequential axis, one
    task per ray. This is the classic R2 ray-quantized approximation
    (exactness grows with n_rays); the reference's per-pixel R3 sweep is
    the brute-force twin the tests compare against.

    observer: (ox, oy) in GLOBAL pixel coords, oz = eye elevation.
    Output: (gpx, gpy, visible) for every valid pixel."""
    two_pi = 2 * np.pi

    def _ray_of(ang):
        return np.floor((ang + np.pi) / two_pi * n_rays).astype(np.int64) \
            % n_rays

    def emit(pdf_iter):
        from ..core.wkb import _ragged_arange
        for pdf in pdf_iter:
            frames = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, tile)
                jj, ii = np.meshgrid(np.arange(tile), np.arange(tile))
                gx = (int(r.tile_x) * tile + jj).ravel()
                gy = (int(r.tile_y) * tile + ii).ravel()
                z = arr.ravel()
                dx = gx + 0.5 - ox
                dy = gy + 0.5 - oy
                rad = np.hypot(dx, dy)
                with np.errstate(divide="ignore", invalid="ignore"):
                    el = np.where(rad > 0, (z - oz) / rad, np.inf)
                center_ray = _ray_of(np.arctan2(dy, dx))
                # a pixel OCCLUDES every ray its square footprint subtends:
                # replicate it to that ray range (else a 1-px wall only
                # registers on one ray and thin blockers leak)
                cors = np.stack([np.arctan2(gy + oyc - oy, gx + oxc - ox)
                                 for oxc in (0.0, 1.0)
                                 for oyc in (0.0, 1.0)])
                amin = cors.min(axis=0)
                amax = cors.max(axis=0)
                straddle = (amax - amin) > np.pi   # crosses the -pi/pi seam
                near = rad <= 1.5                  # at the observer's feet
                # UNWRAPPED ray bins (0..n_rays inclusive — the expansion
                # wraps with % n_rays), so amax=pi never inverts the range
                rbin = (lambda a: np.floor((a + np.pi) / two_pi * n_rays)
                        .astype(np.int64))
                r0 = rbin(np.where(straddle | near, 0.0, amin))
                r1 = rbin(np.where(straddle | near, 0.0, amax))
                cnt = np.where(straddle | near, 1, r1 - r0 + 1)
                idx = np.repeat(np.arange(len(gx)), cnt)
                ray = (r0[idx] + _ragged_arange(cnt)) % n_rays
                is_center = ray == center_ray[idx]
                base = pd.DataFrame({
                    "ray": ray, "rad": rad[idx], "el": el[idx],
                    "gpx": np.where(is_center, gx[idx], -1),
                    "gpy": np.where(is_center, gy[idx], -1)})
                # straddle/near pixels still need their own center entry
                extra_sel = (straddle | near)
                if extra_sel.any():
                    es = np.flatnonzero(extra_sel)
                    base = pd.concat([base, pd.DataFrame({
                        "ray": center_ray[es], "rad": rad[es],
                        "el": el[es], "gpx": gx[es], "gpy": gy[es]})])
                    # and straddlers must occlude both seam sides' rays:
                    st = np.flatnonzero(straddle)
                    if len(st):
                        lo = np.floor((amax[st] + np.pi) / two_pi
                                      * n_rays).astype(np.int64)
                        n_lo = np.maximum((n_rays - 1) - lo + 1, 0)
                        n_hi = np.floor((amin[st] + np.pi) / two_pi
                                        * n_rays).astype(np.int64) + 1
                        for r0s, cnts in ((lo, n_lo), (np.zeros(len(st),
                                          dtype=np.int64), n_hi)):
                            idx2 = np.repeat(st, cnts)
                            ray2 = (r0s.repeat(cnts)
                                    + _ragged_arange(cnts)) % n_rays
                            base = pd.concat([base, pd.DataFrame({
                                "ray": ray2, "rad": rad[idx2],
                                "el": el[idx2],
                                "gpx": np.full(len(idx2), -1,
                                               dtype=np.int64),
                                "gpy": np.full(len(idx2), -1,
                                               dtype=np.int64)})])
                frames.append(base)
            yield pd.concat(frames) if frames else pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in
                 [("ray", "int64"), ("rad", "float64"), ("el", "float64"),
                  ("gpx", "int64"), ("gpy", "int64")]})

    ray_schema = T.StructType([
        T.StructField("ray", T.LongType()),
        T.StructField("rad", T.DoubleType()),
        T.StructField("el", T.DoubleType()),
        T.StructField("gpx", T.LongType()),
        T.StructField("gpy", T.LongType()),
    ])
    rays = tiles_df.mapInPandas(emit, ray_schema)

    def scan(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rad", kind="stable")
        el = pdf["el"].values
        # visible iff at or above every strictly-closer pixel's horizon
        horizon = np.maximum.accumulate(np.r_[-np.inf, el[:-1]])
        vis = (el >= horizon) | (pdf["rad"].values <= 1.5)
        keep = pdf["gpx"].values >= 0        # only center-ray rows report
        return pd.DataFrame({"gpx": pdf["gpx"].values[keep],
                             "gpy": pdf["gpy"].values[keep],
                             "visible": vis[keep].astype(np.int32)})

    return rays.groupBy("ray").applyInPandas(scan, _VIEW_SCHEMA)


# ---------------------------------------------------------------------------
# point-to-point line of sight (alg/los.cpp GDALIsLineOfSightVisible)
# ---------------------------------------------------------------------------

_LOS_CELL_SCHEMA = T.StructType([
    T.StructField("pid", T.LongType()),
    T.StructField("gx", T.LongType()),
    T.StructField("gy", T.LongType()),
    T.StructField("zline", T.DoubleType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
])

_LOS_SCHEMA = T.StructType([
    T.StructField("pid", T.LongType()),
    T.StructField("visible", T.BooleanType()),
])


def _bresenham_cells(xa: int, ya: int, xb: int, yb: int):
    """Exact cells of the reference's Bresenham walk (alg/los.cpp:36
    Bresenham2D), via the closed form n_i = max(0, floor((2*d*i - D) /
    (2*D)) + 1) for the minor axis — verified step-for-step against the
    loop; vectorized over the line instead of iterating it."""
    dx, dy = abs(xb - xa), abs(yb - ya)
    incx = 1 if xb >= xa else -1
    incy = 1 if yb >= ya else -1
    if dx == 0 and dy == 0:
        return np.array([xa]), np.array([ya])
    if dx >= dy:
        i = np.arange(dx + 1)
        n = np.maximum(0, (2 * dy * i - dx) // (2 * dx) + 1)
        return xa + incx * i, ya + incy * n
    i = np.arange(dy + 1)
    n = np.maximum(0, (2 * dx * i - dy) // (2 * dy) + 1)
    return xa + incx * n, ya + incy * i


def los(tiles_df: DataFrame, pairs_df: DataFrame,
        tile: int = 256) -> DataFrame:
    """(pid, visible) per observer/target pair (alg/los.cpp
    GDALIsLineOfSightVisible): the Bresenham cells of each sight line get
    the interpolated line height lerp(za, zb, euclidean ratio)
    (los.cpp:333 GetZValueFromXY), route to their tiles, and a pair is
    visible iff STRICTLY above terrain at every cell (los.cpp z >
    terrainHeight; off-raster cells fail, matching GetElevation's error
    path). pairs_df: (pid, xa, ya, za, xb, yb, zb) in global pixel coords.

    Distribution: pairs fan out to cells (map), one shuffle routes cells
    to tiles (cogroup with the tile table — terrain never broadcasts),
    one aggregate folds per-pair visibility."""
    import math

    def emit(batches):
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                xs, ys = _bresenham_cells(int(r.xa), int(r.ya),
                                          int(r.xb), int(r.yb))
                den = float((r.xb - r.xa) ** 2 + (r.yb - r.ya) ** 2)
                if den > 0:
                    ratio = np.sqrt(((xs - r.xa) ** 2.0
                                     + (ys - r.ya) ** 2.0) / den)
                else:
                    ratio = np.zeros(len(xs))
                z = r.za + ratio * (r.zb - r.za)
                frames.append(pd.DataFrame({
                    "pid": int(r.pid), "gx": xs, "gy": ys, "zline": z,
                    "tile_x": xs // tile, "tile_y": ys // tile}))
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=[f.name for f in _LOS_CELL_SCHEMA.fields])

    cells = pairs_df.mapInPandas(emit, _LOS_CELL_SCHEMA)

    def check(key: tuple, tiles_pdf: pd.DataFrame,
              cells_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cells_pdf):
            return pd.DataFrame(columns=["pid", "visible"])
        if not len(tiles_pdf):
            # cells over unmaterialized raster -> GetElevation fails ->
            # blocked (los.cpp IsAboveTerrain error path)
            return pd.DataFrame({"pid": cells_pdf["pid"],
                                 "visible": False})
        r = tiles_pdf.iloc[0]
        # r["dtype"] (column), NOT r.dtype (the Series' own dtype attr)
        arr = decode_px(r["px"], r["dtype"], tile)
        lx = (cells_pdf["gx"].values % tile).astype(int)
        ly = (cells_pdf["gy"].values % tile).astype(int)
        above = cells_pdf["zline"].values > arr[ly, lx]
        return pd.DataFrame({"pid": cells_pdf["pid"], "visible": above})

    per_cell = (tiles_df.groupBy("tile_x", "tile_y")
                .cogroup(cells.groupBy("tile_x", "tile_y"))
                .applyInPandas(check, _LOS_SCHEMA))
    return per_cell.groupBy("pid").agg(
        F.min(F.col("visible").cast("int")).cast("boolean")
        .alias("visible"))
