"""Distributed raster warp/reprojection over the tile table.

Re-expresses GDALWarpOperation::ChunkAndWarpImage
(/root/reference/alg/gdalwarpoperation.cpp:101-140; kernels
alg/gdalwarpkernel.cpp:101-135; resampling enum alg/gdalwarper.h:37-67)
Spark-first:

  1. every SRC tile forward-transforms its (kernel-padded) bbox into the dst
     grid and emits one copy per DST tile it feeds — a flatMap, no driver
     enumeration, no global transformer state;
  2. groupBy(dst tile): each task assembles the needed src pixels on a local
     canvas, inverse-transforms the dst tile's pixel-center mesh
     (dst px -> dst world -> src world -> src px, the transformer chain of
     alg/gdaltransformer.cpp:1348), and samples with the requested kernel;
  3. kernels — the full GDALResampleAlg surface:
       point kernels   near, bilinear (2x2), cubic (4x4 Catmull-Rom a=-0.5,
                       the reference's GWKCubic), cubicspline (4x4 cubic
                       B-spline), lanczos (6x6, a=3)
       area kernels    average, sum, min, max, rms, mode, med, q1, q3 —
                       reduce every src pixel whose CENTER falls in the dst
                       pixel's back-projected footprint (corner mesh), with
                       nearest-sample fallback when the footprint contains
                       no center (upsampling), mirroring GWKAverageOrMode;
  4. nodata: when `src_nodata` is set, a validity canvas masks nodata and
     uncovered pixels out of every kernel (point kernels renormalize their
     weights; area kernels reduce over valid contributors only) and dst
     pixels with no valid contributor emit nodata — the density-mask
     semantics of alg/gdalwarper.cpp's GDALWarpNoDataMasker.

The reference's chunking-by-memory-limit (gdalwarpoperation.cpp:534) becomes
'one task per dst tile' (+ row-chunking inside the area gather so the
(tile x tile x footprint) gather stays bounded); its I/O-compute thread
pipelining becomes Spark scheduling. The ApproxTransformer option
(transforms.approx_mesh) bounds CT cost per tile exactly like
alg/gdaltransformer.cpp:3788. GDALSuggestedWarpOutput's planning step
(alg/gdaltransformer.cpp:131-183) is `suggested_warp_output`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .rasterize import GridSpec
from .tiles import TILE_SCHEMA, encode_px
from .transforms import approx_mesh, transform

POINT_KERNELS = ("near", "bilinear", "cubic", "cubicspline", "lanczos")
AREA_KERNELS = ("average", "sum", "min", "max", "rms", "mode",
                "med", "q1", "q3")

_KERNEL_RADIUS = {"near": 0, "bilinear": 1, "cubic": 2, "cubicspline": 2,
                  "lanczos": 3}
_AREA_MAX_TAPS = 64          # per-axis cap on the area-kernel footprint
_GATHER_BUDGET = 1 << 24     # floats per area gather chunk (~128 MB)


@dataclass(frozen=True)
class WarpSpec:
    src_grid: GridSpec
    src_crs: str
    dst_grid: GridSpec
    dst_crs: str
    resample: str = "near"
    fill: float = 0.0
    approx_tol_px: float = 0.0   # >0 enables the approximate transformer
    src_nodata: Optional[float] = None
    # cutline: WKB polygon in SRC world coords — src pixels whose centers
    # fall outside it are masked invalid before any kernel runs, the
    # source-mask semantics of gdalwarp -cutline
    # (apps/gdalwarp_lib.cpp:404-436)
    cutline: Optional[bytes] = None


_EMIT_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("dst_tx", T.LongType()),
    T.StructField("dst_ty", T.LongType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("dtype", T.StringType()),
    T.StructField("px", T.BinaryType()),
])


def _radius(resample: str) -> int:
    return _KERNEL_RADIUS.get(resample, 1)


def _src_px_to_world(g: GridSpec, px, py):
    return g.x0 + np.asarray(px) * g.dx, g.y0 + np.asarray(py) * g.dy


def _dst_tiles_for_src_tile(spec: WarpSpec, tx: int, ty: int):
    """Which dst tiles does src tile (tx, ty) feed? Sample the padded tile
    boundary densely (handles nonlinear edges), transform forward."""
    g, t = spec.src_grid, spec.src_grid.tile
    r = _radius(spec.resample) + 1
    x0, x1 = tx * t - r, (tx + 1) * t + r
    y0, y1 = ty * t - r, (ty + 1) * t + r
    s = np.linspace(0.0, 1.0, 9)
    bx = np.r_[x0 + (x1 - x0) * s, np.full(9, x1), x1 + (x0 - x1) * s,
               np.full(9, x0)]
    by = np.r_[np.full(9, y0), y0 + (y1 - y0) * s, np.full(9, y1),
               y1 + (y0 - y1) * s]
    wx, wy = _src_px_to_world(g, bx, by)
    with np.errstate(all="ignore"):
        dwx, dwy = transform(spec.src_crs, spec.dst_crs, wx, wy)
    dg = spec.dst_grid
    dpx = (dwx - dg.x0) / dg.dx
    dpy = (dwy - dg.y0) / dg.dy
    # kernel padding can push boundary samples outside the CT's domain
    # (e.g. |lat| > 90 for mercator) -> NaN; ignore those samples
    ok = np.isfinite(dpx) & np.isfinite(dpy)
    if not ok.any():
        return []
    dpx, dpy = dpx[ok], dpy[ok]
    dt = dg.tile
    ntx, nty = dg.n_tiles()
    tx0 = max(int(np.floor(dpx.min() - 1)) // dt, 0)
    tx1 = min(int(np.ceil(dpx.max() + 1)) // dt, ntx - 1)
    ty0 = max(int(np.floor(dpy.min() - 1)) // dt, 0)
    ty1 = min(int(np.ceil(dpy.max() + 1)) // dt, nty - 1)
    return [(dtx, dty) for dty in range(ty0, ty1 + 1)
            for dtx in range(tx0, tx1 + 1)]


# ---------------------------------------------------------------------------
# point kernels (separable weights)
# ---------------------------------------------------------------------------

def _w_cubic(t: np.ndarray) -> np.ndarray:
    """Catmull-Rom a=-0.5 — GWKCubic (gdalwarpkernel.cpp)."""
    a = -0.5
    w = np.empty(t.shape + (4,))
    w[..., 0] = a * t ** 3 - 2 * a * t ** 2 + a * t
    w[..., 1] = (a + 2) * t ** 3 - (a + 3) * t ** 2 + 1
    w[..., 2] = -(a + 2) * t ** 3 + (2 * a + 3) * t ** 2 - a * t
    w[..., 3] = -a * t ** 3 + a * t ** 2
    return w


def _w_bspline(t: np.ndarray) -> np.ndarray:
    """Cubic B-spline — GWKCubicSpline (smoothing, weights sum to 1)."""
    w = np.empty(t.shape + (4,))
    w[..., 0] = (1 - t) ** 3 / 6.0
    w[..., 1] = (3 * t ** 3 - 6 * t ** 2 + 4) / 6.0
    w[..., 2] = (-3 * t ** 3 + 3 * t ** 2 + 3 * t + 1) / 6.0
    w[..., 3] = t ** 3 / 6.0
    return w


def _w_lanczos(t: np.ndarray) -> np.ndarray:
    """Lanczos windowed sinc, a=3, 6 taps — GWKLanczosSinc."""
    a = 3
    w = np.empty(t.shape + (6,))
    for k in range(6):
        x = t + (2 - k)          # distance to tap center
        w[..., k] = np.sinc(x) * np.sinc(x / a)
    s = w.sum(axis=-1, keepdims=True)
    return w / np.where(s == 0, 1.0, s)


_SEP_WEIGHTS = {"cubic": (_w_cubic, 4, 1),
                "cubicspline": (_w_bspline, 4, 1),
                "lanczos": (_w_lanczos, 6, 2)}


def _sample_point(canvas, valid, ox, oy, sx, sy, resample, fill,
                  use_mask: bool):
    """Sample canvas at continuous src pixel coords. Pixel k's center is at
    k+0.5. With use_mask, invalid taps are dropped and weights renormalize;
    a sample with zero valid weight returns fill (= nodata)."""
    H, W = canvas.shape
    u = sx - ox
    v = sy - oy
    if resample == "near":
        ix = np.floor(u).astype(np.int64)
        iy = np.floor(v).astype(np.int64)
        ok = (ix >= 0) & (ix < W) & (iy >= 0) & (iy < H)
        out = np.full(u.shape, fill, dtype=np.float64)
        ixo = np.clip(ix, 0, W - 1)
        iyo = np.clip(iy, 0, H - 1)
        if use_mask:
            ok = ok & valid[iyo, ixo]
        out[ok] = canvas[iy[ok], ix[ok]]
        return out
    # GDALWarpKernel's scale gate (gdalwarpkernel.cpp:1164): the 4-sample
    # fast kernels only apply when dst/src scale >= 0.95 on both axes;
    # coarser targets go through the stretched-filter resampler so
    # downsampling anti-aliases exactly like the reference
    if resample in _FILTER_RADIUS:
        def _axis_scale(m, axis):
            if m.shape[axis] < 2:
                return 1.0
            d = np.abs(np.diff(m, axis=axis))
            d = d[np.isfinite(d)]          # out-of-domain CT -> NaN mesh
            if not len(d):
                return 1.0
            step = float(np.median(d))
            return 1.0 / step if step > 0 and np.isfinite(step) else 1.0
        xscale = _axis_scale(u, 1)
        yscale = _axis_scale(v, 0)
        if min(xscale, yscale) < 0.95:
            return _sample_scaled(canvas, valid, u, v, resample, fill,
                                  xscale, yscale)
    if resample == "bilinear":
        if not use_mask:
            return _bilinear_gdal(canvas, valid, u, v, fill)
        fu = u - 0.5
        fv = v - 0.5
        ix = np.floor(fu).astype(np.int64)
        iy = np.floor(fv).astype(np.int64)
        wx = fu - ix
        wy = fv - iy
        wgx = np.stack([1 - wx, wx], axis=-1)
        wgy = np.stack([1 - wy, wy], axis=-1)
        return _sep_gather(canvas, valid, ix, iy, wgx, wgy, 0, fill,
                           use_mask, full_stencil=False)
    if resample == "cubic" and not use_mask:
        return _cubic_gdal(canvas, valid, u, v, fill)
    if resample in _SEP_WEIGHTS:
        wfn, taps, lead = _SEP_WEIGHTS[resample]
        fu = u - 0.5
        fv = v - 0.5
        ix = np.floor(fu).astype(np.int64)
        iy = np.floor(fv).astype(np.int64)
        return _sep_gather(canvas, valid, ix, iy, wfn(fu - ix), wfn(fv - iy),
                           lead, fill, use_mask, full_stencil=False)
    raise ValueError(resample)


_FILTER_RADIUS = {"bilinear": 1, "cubic": 2, "cubicspline": 2,
                  "lanczos": 3}


def _gwk_weight(resample, x):
    """Vectorized twins of the reference's filter functions
    (gdalwarpkernel.cpp GWKBilinear / GWKCubic / GWKBSpline — which
    returns SIX TIMES the B-spline, the commented-out 1/6 absorbed by
    weight normalization — / GWKLanczosSinc with its sin(3x) identity)."""
    if resample == "bilinear":
        return np.maximum(0.0, 1.0 - np.abs(x))
    if resample == "cubic":                      # Catmull-Rom a=-0.5
        ax = np.abs(x)
        return np.where(
            ax <= 1.0, (1.5 * ax - 2.5) * ax * ax + 1.0,
            np.where(ax < 2.0, ((-0.5 * ax + 2.5) * ax - 4.0) * ax + 2.0,
                     0.0))
    if resample == "cubicspline":                # GWKBSpline (x6)
        def p3(t):
            return np.where(t > 0.0, t * t * t, 0.0)
        return np.where(np.abs(x) < 2.0,
                        p3(x + 2.0) - 4.0 * p3(x + 1.0) + 6.0 * p3(x)
                        - 4.0 * p3(x - 1.0), 0.0)
    if resample == "lanczos":
        pix = np.pi * x
        pix_r = pix / 3.0
        pix2_r = pix * pix_r
        s = np.sin(pix_r)
        s2 = s * s
        with np.errstate(invalid="ignore", divide="ignore"):
            w = (3.0 - 4.0 * s2) * s2 / pix2_r
        return np.where(x == 0.0, 1.0, np.where(np.abs(x) < 3.0, w, 0.0))
    raise ValueError(resample)


def _sample_scaled(canvas, valid, u, v, resample, fill,
                   xscale, yscale):
    """The reference's generic downsampling resampler (GWKResample,
    gdalwarpkernel.cpp:3683): when the dst grid is coarser than the src
    (scale < 1) the filter STRETCHES — taps within radius
    ceil(filter/scale), weights evaluated at (tap - delta) * scale — and
    the result divides by the accumulated weight unless it is ~1 (the
    reference's 0.99999..1.00001 window). Per-tap validity renormalizes
    (the density skip)."""
    H, W = canvas.shape
    ix = np.floor(u - 0.5).astype(np.int64)
    iy = np.floor(v - 0.5).astype(np.int64)
    dx = u - 0.5 - ix
    dy = v - 0.5 - iy
    filt = _FILTER_RADIUS[resample]
    nxr = int(np.ceil(filt / xscale)) if xscale < 1.0 else filt
    nyr = int(np.ceil(filt / yscale)) if yscale < 1.0 else filt
    fix = ((filt + 1) % 2) - nxr
    fiy = ((filt + 1) % 2) - nyr
    sx_w = xscale if xscale < 1.0 else 1.0
    sy_w = yscale if yscale < 1.0 else 1.0
    num = np.zeros(u.shape, dtype=np.float64)
    den = np.zeros(u.shape, dtype=np.float64)
    for j in range(fiy, nyr + 1):
        wy = _gwk_weight(resample, (j - dy) * sy_w)
        yy = iy + j
        iny = (yy >= 0) & (yy < H)
        yyc = np.clip(yy, 0, H - 1)
        rown = np.zeros(u.shape, dtype=np.float64)
        rowd = np.zeros(u.shape, dtype=np.float64)
        for i in range(fix, nxr + 1):
            wx = _gwk_weight(resample, (i - dx) * sx_w)
            xx = ix + i
            good = iny & (xx >= 0) & (xx < W)
            xxc = np.clip(xx, 0, W - 1)
            good = good & valid[yyc, xxc]
            w = np.where(good, wx, 0.0)
            rown += canvas[yyc, xxc] * w
            rowd += w
        num += rown * wy
        den += rowd * wy
    ok = den >= 1e-6
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where((den < 0.99999) | (den > 1.00001), num / den, num)
    return np.where(ok, out, fill)


def _bilinear_gdal(canvas, valid, u, v, fill):
    """Expression-exact twin of GWKBilinearResampleNoMasks4SampleT
    (gdalwarpkernel.cpp:2749): ratio = 1.5 - (srcX - floor(srcX - 0.5)),
    row-lerp grouping in the interior, per-tap weight renormalization at
    the raster edge — bit-identical to the reference's golden tiles
    (autotest/alg/data/utmsmall_blinear.tiff)."""
    H, W = canvas.shape
    ix = np.floor(u - 0.5).astype(np.int64)
    iy = np.floor(v - 0.5).astype(np.int64)
    rx = 1.5 - (u - ix)
    ry = 1.5 - (v - iy)
    ix0 = np.clip(ix, 0, W - 1)
    iy0 = np.clip(iy, 0, H - 1)
    ix1 = np.clip(ix + 1, 0, W - 1)
    iy1 = np.clip(iy + 1, 0, H - 1)
    v00 = canvas[iy0, ix0]
    v01 = canvas[iy0, ix1]
    v10 = canvas[iy1, ix0]
    v11 = canvas[iy1, ix1]
    ok00 = (ix >= 0) & (ix < W) & (iy >= 0) & (iy < H) & valid[iy0, ix0]
    ok01 = (ix + 1 >= 0) & (ix + 1 < W) & (iy >= 0) & (iy < H) \
        & valid[iy0, ix1]
    ok10 = (ix >= 0) & (ix < W) & (iy + 1 >= 0) & (iy + 1 < H) \
        & valid[iy1, ix0]
    ok11 = (ix + 1 >= 0) & (ix + 1 < W) & (iy + 1 >= 0) & (iy + 1 < H) \
        & valid[iy1, ix1]
    interior = ok00 & ok01 & ok10 & ok11
    exact = (v00 * rx + v01 * (1.0 - rx)) * ry \
        + (v10 * rx + v11 * (1.0 - rx)) * (1.0 - ry)
    num = (np.where(ok00, v00 * (rx * ry), 0.0)
           + np.where(ok01, v01 * ((1.0 - rx) * ry), 0.0)
           + np.where(ok10, v10 * (rx * (1.0 - ry)), 0.0)
           + np.where(ok11, v11 * ((1.0 - rx) * (1.0 - ry)), 0.0))
    den = (np.where(ok00, rx * ry, 0.0)
           + np.where(ok01, (1.0 - rx) * ry, 0.0)
           + np.where(ok10, rx * (1.0 - ry), 0.0)
           + np.where(ok11, (1.0 - rx) * (1.0 - ry), 0.0))
    with np.errstate(invalid="ignore", divide="ignore"):
        edge = np.where(den > 0.0, num / den, fill)
    return np.where(interior, exact, edge)


def _gwk_cubic_weights(x):
    """GWKCubicComputeWeights (gdalwarpkernel.cpp:2876) — the exact
    factorization matters for bit-parity at rounding ties."""
    half_x = 0.5 * x
    three_x = 3.0 * x
    half_x2 = half_x * x
    return (half_x * (-1 + x * (2 - x)),
            1 + half_x2 * (-5 + three_x),
            half_x * (1 + x * (4 - three_x)),
            half_x2 * (-1 + x))


def _cubic_gdal(canvas, valid, u, v, fill):
    """Expression-exact twin of GWKCubicResample4Sample
    (gdalwarpkernel.cpp:2918): Catmull-Rom via GWKCubicComputeWeights with
    CONVOL4 row-then-column grouping; samples whose 4x4 stencil leaves the
    raster FALL BACK TO BILINEAR (gdalwarpkernel.cpp:2934) — the rule the
    golden tiles encode (autotest/alg/data/utmsmall_cubic.tiff)."""
    H, W = canvas.shape
    ix = np.floor(u - 0.5).astype(np.int64)
    iy = np.floor(v - 0.5).astype(np.int64)
    dx = u - 0.5 - ix
    dy = v - 0.5 - iy
    cx = _gwk_cubic_weights(dx)
    cy = _gwk_cubic_weights(dy)
    inside = (ix - 1 >= 0) & (ix + 2 < W) & (iy - 1 >= 0) & (iy + 2 < H)
    ixs = np.clip(ix, 1, max(W - 3, 1))
    iys = np.clip(iy, 1, max(H - 3, 1))
    covered = np.ones_like(inside)
    acc = np.zeros(u.shape, dtype=np.float64)
    for m in range(4):
        row = np.zeros(u.shape, dtype=np.float64)
        for n in range(4):
            yyc = iys + m - 1
            xxc = ixs + n - 1
            row = row + canvas[yyc, xxc] * cx[n]
            covered = covered & valid[yyc, xxc]
        acc = acc + row * cy[m]
    bil = _bilinear_gdal(canvas, valid, u, v, fill)
    return np.where(inside & covered, acc, bil)


def _sep_gather(canvas, valid, ix, iy, wgx, wgy, lead, fill, use_mask,
                full_stencil):
    """Separable taps x taps gather. full_stencil (legacy, no nodata):
    samples whose stencil leaves the canvas return fill outright —
    bit-compatible with the round-1 kernels."""
    H, W = canvas.shape
    taps = wgx.shape[-1]
    out = np.full(ix.shape, fill, dtype=np.float64)
    if full_stencil:
        ok = (ix - lead >= 0) & (ix - lead + taps - 1 < W) & \
             (iy - lead >= 0) & (iy - lead + taps - 1 < H)
        if not ok.any():
            return out
        ixo, iyo = ix[ok], iy[ok]
        acc = np.zeros(ixo.shape, dtype=np.float64)
        for m in range(taps):
            rowacc = np.zeros_like(acc)
            for n in range(taps):
                rowacc += canvas[iyo + m - lead, ixo + n - lead] \
                    * wgx[ok][:, n]
            acc += rowacc * wgy[ok][:, m]
        out[ok] = acc
        return out
    num = np.zeros(ix.shape, dtype=np.float64)
    den = np.zeros(ix.shape, dtype=np.float64)
    for m in range(taps):
        yy = iy + m - lead
        iny = (yy >= 0) & (yy < H)
        yyc = np.clip(yy, 0, H - 1)
        for n in range(taps):
            xx = ix + n - lead
            good = iny & (xx >= 0) & (xx < W)
            xxc = np.clip(xx, 0, W - 1)
            # taps always require a covered (and, with masks, valid) src
            # pixel; partial stencils renormalize over what remains — the
            # reference's edge behavior (GWK* kernels accumulate valid
            # weights and divide), pinned by the autotest golden tiles
            good = good & valid[yyc, xxc]
            w = wgx[..., n] * wgy[..., m] * good
            num += w * canvas[yyc, xxc]
            den += w
    ok = np.abs(den) > 1e-10
    out[ok] = num[ok] / den[ok]
    return out


# ---------------------------------------------------------------------------
# area kernels (footprint reduce — GWKAverageOrMode family)
# ---------------------------------------------------------------------------

def _sample_area(canvas, valid, ox, oy, cx, cy, method, fill):
    """Reduce src pixels whose centers fall in each dst pixel's footprint.

    cx, cy: (h+1, w+1) corner meshes in src PIXEL coords. Returns (h, w)
    float64 with `fill` where no valid contributor exists.
    """
    H, W = canvas.shape
    x00, x01 = cx[:-1, :-1], cx[:-1, 1:]
    x10, x11 = cx[1:, :-1], cx[1:, 1:]
    y00, y01 = cy[:-1, :-1], cy[:-1, 1:]
    y10, y11 = cy[1:, :-1], cy[1:, 1:]
    xmin = np.minimum(np.minimum(x00, x01), np.minimum(x10, x11)) - ox
    xmax = np.maximum(np.maximum(x00, x01), np.maximum(x10, x11)) - ox
    ymin = np.minimum(np.minimum(y00, y01), np.minimum(y10, y11)) - oy
    ymax = np.maximum(np.maximum(y00, y01), np.maximum(y10, y11)) - oy
    # first/last pixel whose center (k+0.5) is inside [min, max)
    kx0 = np.ceil(xmin - 0.5).astype(np.int64)
    kx1 = np.ceil(xmax - 0.5).astype(np.int64) - 1
    ky0 = np.ceil(ymin - 0.5).astype(np.int64)
    ky1 = np.ceil(ymax - 0.5).astype(np.int64) - 1
    # upsampling fallback: no center inside -> take the containing pixel
    midx = np.floor(0.5 * (xmin + xmax)).astype(np.int64)
    midy = np.floor(0.5 * (ymin + ymax)).astype(np.int64)
    ex = kx1 < kx0
    kx0 = np.where(ex, midx, kx0)
    kx1 = np.where(ex, midx, kx1)
    ey = ky1 < ky0
    ky0 = np.where(ey, midy, ky0)
    ky1 = np.where(ey, midy, ky1)
    cntx = np.minimum(kx1 - kx0 + 1, _AREA_MAX_TAPS)
    cnty = np.minimum(ky1 - ky0 + 1, _AREA_MAX_TAPS)
    Kx = int(cntx.max())
    Ky = int(cnty.max())

    h, w = kx0.shape
    out = np.full((h, w), fill, dtype=np.float64)
    # row-chunk so the (chunk, w, Ky, Kx) gather stays within budget
    # (mode's sort/run-length reduce holds ~6 same-shaped temporaries)
    per_px = w * Kx * Ky * (6 if method == "mode" else 1)
    rows_per = max(1, int(_GATHER_BUDGET / max(1, per_px)))
    for r0 in range(0, h, rows_per):
        r1 = min(r0 + rows_per, h)
        sl = slice(r0, r1)
        IX = kx0[sl][:, :, None, None] + np.arange(Kx)[None, None, None, :]
        IY = ky0[sl][:, :, None, None] + np.arange(Ky)[None, None, :, None]
        m = (np.arange(Kx)[None, None, None, :] < cntx[sl][:, :, None, None]) \
            & (np.arange(Ky)[None, None, :, None] < cnty[sl][:, :, None, None]) \
            & (IX >= 0) & (IX < W) & (IY >= 0) & (IY < H)
        IXc = np.clip(IX, 0, W - 1)
        IYc = np.clip(IY, 0, H - 1)
        vals = canvas[IYc, IXc]
        m = m & valid[IYc, IXc]
        out[sl] = _reduce_area(vals, m, method, fill)
    return out


def _reduce_area(vals, m, method, fill):
    """(c, w, Ky, Kx) masked reduce -> (c, w)."""
    cnt = m.sum(axis=(2, 3))
    any_v = cnt > 0
    safe = np.maximum(cnt, 1)
    if method == "average":
        out = (vals * m).sum(axis=(2, 3)) / safe
    elif method == "sum":
        out = (vals * m).sum(axis=(2, 3))
    elif method == "rms":
        out = np.sqrt((vals * vals * m).sum(axis=(2, 3)) / safe)
    elif method == "min":
        out = np.where(m, vals, np.inf).min(axis=(2, 3))
    elif method == "max":
        out = np.where(m, vals, -np.inf).max(axis=(2, 3))
    elif method in ("med", "q1", "q3"):
        q = {"med": 50.0, "q1": 25.0, "q3": 75.0}[method]
        masked = np.where(m, vals, np.nan)
        with np.errstate(all="ignore"):
            out = np.nanpercentile(
                masked.reshape(vals.shape[0], vals.shape[1], -1), q, axis=2)
        out = np.nan_to_num(out, nan=fill)
    elif method == "mode":
        c, w, Ky, Kx = vals.shape
        n = Ky * Kx
        flat = np.where(m, vals, np.nan).reshape(c, w, n)
        # sort-based run-length mode: O(n log n) per pixel and O(n) memory
        # instead of the former (n x n) equality matrix. NaNs sort to the
        # end; equal values are contiguous runs. Ties -> smallest value
        # (documented divergence from GDAL's scan-order tie-break).
        s = np.sort(flat, axis=2)
        pos = np.arange(n)[None, None, :]
        new_run = np.ones_like(s, dtype=bool)
        new_run[:, :, 1:] = s[:, :, 1:] != s[:, :, :-1]
        start = np.maximum.accumulate(np.where(new_run, pos, 0), axis=2)
        length_at = pos - start + 1          # prefix length within its run
        length_at = np.where(np.isnan(s), 0, length_at)
        best = length_at.max(axis=2, keepdims=True)
        cand = np.where(length_at == best, s, np.inf)
        out = cand.min(axis=2)
        out = np.where(np.isfinite(out), out, fill)
    else:
        raise ValueError(method)
    return np.where(any_v, out, fill)


def suggested_warp_output(src_grid: GridSpec, src_crs: str, dst_crs: str,
                          tile: Optional[int] = None,
                          samples: int = 21) -> GridSpec:
    """Compute a dst grid from the src grid + CT — the planning step of
    GDALSuggestedWarpOutput (alg/gdaltransformer.cpp:131-183): transform a
    boundary sample lattice, take the bbox, and pick a square pixel size
    that approximately preserves the pixel count along the transformed
    diagonal (the reference's 'same resolution in the new units' rule)."""
    g = src_grid
    s = np.linspace(0.0, 1.0, samples)
    bx = np.r_[g.width * s, np.full(samples, g.width),
               g.width * (1 - s), np.zeros(samples)]
    by = np.r_[np.zeros(samples), g.height * s,
               np.full(samples, g.height), g.height * (1 - s)]
    wx, wy = _src_px_to_world(g, bx, by)
    tx, ty = transform(src_crs, dst_crs, wx, wy)
    xmin, xmax = float(tx.min()), float(tx.max())
    ymin, ymax = float(ty.min()), float(ty.max())
    diag_px = float(np.hypot(g.width, g.height))
    pixel = float(np.hypot(xmax - xmin, ymax - ymin)) / diag_px
    width = max(1, int(round((xmax - xmin) / pixel)))
    height = max(1, int(round((ymax - ymin) / pixel)))
    return GridSpec(x0=xmin, y0=ymax, dx=pixel, dy=-pixel,
                    width=width, height=height,
                    tile=tile if tile is not None else g.tile)


def warp(tiles_df: DataFrame, spec: WarpSpec,
         out_dtype: str = "float64") -> DataFrame:
    """Warp the src tile table onto the dst grid. Returns dst tile table
    (only dst tiles fed by >=1 src tile)."""
    if spec.resample not in POINT_KERNELS + AREA_KERNELS:
        raise ValueError(f"unknown resample {spec.resample!r}")
    dt = spec.dst_grid.tile
    is_area = spec.resample in AREA_KERNELS

    def emit(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for row in pdf.itertuples():
                for dtx, dty in _dst_tiles_for_src_tile(
                        spec, int(row.tile_x), int(row.tile_y)):
                    rows.append({
                        "band": row.band, "dst_tx": dtx, "dst_ty": dty,
                        "tile_x": row.tile_x, "tile_y": row.tile_y,
                        "dtype": row.dtype, "px": row.px})
            yield (pd.DataFrame(rows) if rows else
                   pd.DataFrame({f.name: pd.Series(dtype="object")
                                 for f in _EMIT_SCHEMA.fields}))

    fed = tiles_df.mapInPandas(emit, schema=_EMIT_SCHEMA)

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band, dtx, dty = int(key[0]), int(key[1]), int(key[2])
        st = spec.src_grid.tile
        use_mask = spec.src_nodata is not None or spec.cutline is not None
        fill = spec.src_nodata if spec.src_nodata is not None else spec.fill

        def inverse(dwx, dwy):
            if spec.approx_tol_px > 0:
                swx, swy, _, _ = approx_mesh(
                    spec.dst_crs, spec.src_crs, dwx, dwy,
                    tol_px=spec.approx_tol_px,
                    px_size=abs(spec.src_grid.dx))
            else:
                swx, swy = transform(spec.dst_crs, spec.src_crs, dwx, dwy)
            sx = (swx - spec.src_grid.x0) / spec.src_grid.dx
            sy = (swy - spec.src_grid.y0) / spec.src_grid.dy
            return sx, sy

        if is_area:       # corner mesh: (dt+1)^2 lattice
            jj, ii = np.meshgrid(np.arange(dt + 1), np.arange(dt + 1))
            dwx = spec.dst_grid.x0 + (dtx * dt + jj) * spec.dst_grid.dx
            dwy = spec.dst_grid.y0 + (dty * dt + ii) * spec.dst_grid.dy
        else:             # pixel-center mesh
            jj, ii = np.meshgrid(np.arange(dt), np.arange(dt))
            dwx = spec.dst_grid.x0 + (dtx * dt + jj + 0.5) * spec.dst_grid.dx
            dwy = spec.dst_grid.y0 + (dty * dt + ii + 0.5) * spec.dst_grid.dy
        sx, sy = inverse(dwx, dwy)

        r = _radius(spec.resample) + 1
        ox = max(int(np.floor(sx.min())) - r, 0)
        oy = max(int(np.floor(sy.min())) - r, 0)
        W = min(int(np.ceil(sx.max())) + r + 1, spec.src_grid.width) - ox
        H = min(int(np.ceil(sy.max())) + r + 1, spec.src_grid.height) - oy
        if W <= 0 or H <= 0:
            out = np.full((dt, dt), fill, dtype=np.dtype(out_dtype))
            return pd.DataFrame([{
                "band": band, "zoom": 0, "tile_x": dtx, "tile_y": dty,
                "dtype": out_dtype, "nodata": spec.src_nodata,
                "px": encode_px(out)}])
        canvas = np.full((H, W), fill, dtype=np.float64)
        covered = np.zeros((H, W), dtype=bool)
        for row in pdf.itertuples():
            arr = np.frombuffer(row.px, dtype=np.dtype(row.dtype)) \
                .reshape(st, st)
            x0 = int(row.tile_x) * st - ox
            y0 = int(row.tile_y) * st - oy
            xs0, ys0 = max(x0, 0), max(y0, 0)
            xs1, ys1 = min(x0 + st, W), min(y0 + st, H)
            if xs0 >= xs1 or ys0 >= ys1:
                continue
            canvas[ys0:ys1, xs0:xs1] = \
                arr[ys0 - y0:ys1 - y0, xs0 - x0:xs1 - x0]
            covered[ys0:ys1, xs0:xs1] = True
        valid = covered
        if spec.src_nodata is not None:
            valid = valid & (canvas != spec.src_nodata)
        if spec.cutline is not None:
            from ..core import geomops, wkb as _wkb
            cj, ci = np.meshgrid(np.arange(W), np.arange(H))
            cwx = spec.src_grid.x0 + (ox + cj + 0.5) * spec.src_grid.dx
            cwy = spec.src_grid.y0 + (oy + ci + 0.5) * spec.src_grid.dy
            cg = _wkb.decode_cached(bytes(spec.cutline))
            inside = geomops.points_in_geom(
                cwx.ravel(), cwy.ravel(), cg).reshape(H, W)
            valid = valid & inside
        if is_area:
            out = _sample_area(canvas, valid, ox, oy, sx, sy,
                               spec.resample, fill)
        else:
            out = _sample_point(canvas, valid, ox, oy, sx, sy,
                                spec.resample, fill, use_mask)
        return pd.DataFrame([{
            "band": band, "zoom": 0, "tile_x": dtx, "tile_y": dty,
            "dtype": out_dtype, "nodata": spec.src_nodata,
            "px": encode_px(out.astype(np.dtype(out_dtype)))}])

    return (fed.groupBy("band", "dst_tx", "dst_ty")
            .applyInPandas(build, schema=TILE_SCHEMA))
