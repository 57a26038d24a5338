"""Proximity raster: per-pixel Euclidean distance to the nearest target.

Re-expresses GDALComputeProximity (/root/reference/alg/gdalproximity.cpp —
scanline nearest-target propagation with MAXDIST) as an ITERATIVE
halo-exchange job in the VECTOR (feature) distance-transform family:

    state   : per tile and pixel, the GLOBAL coordinates of the nearest
              target claimed so far (+ its squared distance)
    round   : tiles exchange a 1-px halo ring of claimed sources; each tile
              takes, per pixel, the exact Euclidean minimum over its local
              targets and every ring site's claimed source — a full-tile
              jump per round, so rounds ~ tile-graph diameter (bounded by
              ceil(maxdist/tile) when MAXDIST is set)
    stop    : fixpoint (no pixel improved anywhere)

Distances to claimed sources are evaluated against their true global
coordinates, never chained, so values are upper bounds converging from
above; like the reference's own scanline algorithm (and all
Danielsson-style vector DTs) the result can exceed the exact distance in
rare configurations by a small sub-pixel amount — tests pin max error.

Inside a tile the local-target part is solved exactly with the
Felzenszwalb–Huttenlocher separable EDT (exact for point sources at
distance 0).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tiles import TILE_SCHEMA, decode_px, encode_px

_INF = np.float64(1e18)
_NOSRC = np.int64(-(1 << 40))


def _edt_1d(f: np.ndarray) -> np.ndarray:
    """Exact 1D squared distance transform d(p) = min_q ((p-q)^2 + f(q))."""
    n = len(f)
    d = np.full(n, _INF)
    finite = np.flatnonzero(f < _INF)
    if len(finite) == 0:
        return d
    v = np.zeros(n, dtype=np.int64)
    z = np.empty(n + 1)
    k = 0
    v[0] = finite[0]
    z[0], z[1] = -np.inf, np.inf
    for q in finite[1:]:
        while True:
            s = ((f[q] + q * q) - (f[v[k]] + v[k] * v[k])) / (2 * q - 2 * v[k])
            if s <= z[k]:
                k -= 1
            else:
                break
        k += 1
        v[k] = q
        z[k] = s
        z[k + 1] = np.inf
    k = 0
    for p in range(n):
        while z[k + 1] < p:
            k += 1
        d[p] = (p - v[k]) ** 2 + f[v[k]]
    return d


def _edt_2d(f: np.ndarray) -> np.ndarray:
    tmp = np.empty_like(f)
    for i in range(f.shape[0]):
        tmp[i, :] = _edt_1d(f[i, :])
    out = np.empty_like(f)
    for j in range(f.shape[1]):
        out[:, j] = _edt_1d(tmp[:, j])
    return out


def _local_sources(arr, tx, ty, tile):
    """Per-pixel nearest LOCAL target (exact EDT + argmin reconstruction by
    brute refinement of the few target sites when small, else coordinates
    via nearest-site over local targets)."""
    tys, txs = np.nonzero(arr != 0)
    h, w = arr.shape
    d2 = np.full((h, w), _INF)
    sy = np.full((h, w), _NOSRC)
    sx = np.full((h, w), _NOSRC)
    if len(tys) == 0:
        return d2, sy, sx
    gy = tys + ty * tile
    gx = txs + tx * tile
    yy, xx = np.mgrid[0:h, 0:w]
    pgy = yy + ty * tile
    pgx = xx + tx * tile
    # chunked exact nearest-site over local targets
    best = np.full((h, w), _INF)
    bidx = np.zeros((h, w), np.int64)
    for s in range(0, len(gy), 512):
        cy = gy[s:s + 512]
        cx = gx[s:s + 512]
        dd = ((pgy[..., None] - cy) ** 2
              + (pgx[..., None] - cx) ** 2).astype(np.float64)
        cmin = dd.min(axis=-1)
        carg = dd.argmin(axis=-1) + s
        upd = cmin < best
        best = np.where(upd, cmin, best)
        bidx = np.where(upd, carg, bidx)
    return best, gy[bidx], gx[bidx]


_STATE_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("px", T.BinaryType()),        # float64 (3, tile, tile)
])

_RING_SCHEMA = T.StructType([
    T.StructField("band", T.IntegerType()),
    T.StructField("zoom", T.IntegerType()),
    T.StructField("tile_x", T.LongType()),
    T.StructField("tile_y", T.LongType()),
    T.StructField("sy", T.BinaryType()),        # float64 site rows
    T.StructField("sx", T.BinaryType()),
])

_OUT_SCHEMA = T.StructType(_STATE_SCHEMA.fields
                           + [T.StructField("changed", T.IntegerType())])


def _pack(d2, sy, sx):
    return encode_px(np.stack([d2, sy.astype(np.float64),
                               sx.astype(np.float64)]))


def _unpack(b, tile):
    a = np.frombuffer(b, np.float64).reshape(3, tile, tile)
    return a[0], a[1], a[2]


def proximity(tiles_df: DataFrame, tile: int = 256,
              maxdist: float | None = None,
              max_rounds: int = 64) -> DataFrame:
    """tile table -> float64 distance tile table (targets: pixels != 0)."""
    keys = ["band", "zoom", "tile_x", "tile_y"]

    def init(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples():
            arr = decode_px(r.px, r.dtype, tile)
            d2, sy, sx = _local_sources(arr, int(r.tile_x), int(r.tile_y),
                                        tile)
            out.append((r.band, r.zoom, r.tile_x, r.tile_y,
                        _pack(d2, sy, sx)))
        return pd.DataFrame(out, columns=[f.name for f in
                                          _STATE_SCHEMA.fields])

    state = tiles_df.groupBy(*keys).applyInPandas(init, _STATE_SCHEMA) \
        .localCheckpoint()

    if maxdist is not None:
        max_rounds = min(max_rounds, int(np.ceil(maxdist / tile)) + 2)

    def emit_ring(batches):
        """Each tile sends its claimed sources from the row/col facing each
        of its 8 neighbors, addressed to that neighbor."""
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                d2, sy, sx = _unpack(r.px, tile)
                edges = {
                    (1, 0): (slice(None), slice(tile - 1, tile)),
                    (-1, 0): (slice(None), slice(0, 1)),
                    (0, 1): (slice(tile - 1, tile), slice(None)),
                    (0, -1): (slice(0, 1), slice(None)),
                    (1, 1): (slice(tile - 1, tile), slice(tile - 1, tile)),
                    (-1, 1): (slice(tile - 1, tile), slice(0, 1)),
                    (1, -1): (slice(0, 1), slice(tile - 1, tile)),
                    (-1, -1): (slice(0, 1), slice(0, 1)),
                }
                for (dx, dy), idx in edges.items():
                    m = d2[idx] < _INF
                    if not m.any():
                        continue
                    out.append((r.band, r.zoom, r.tile_x + dx, r.tile_y + dy,
                                sy[idx][m].tobytes(), sx[idx][m].tobytes()))
            cols = [f.name for f in _RING_SCHEMA.fields]
            yield pd.DataFrame(out, columns=cols) if out else \
                pd.DataFrame({c: pd.Series(dtype="object") for c in cols})

    def relax(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # state row has px; ring rows have sy/sx — distinguish by px null
        st = pdf[pdf["px"].notna()]
        if st.empty:
            return pd.DataFrame(columns=[f.name for f in _OUT_SCHEMA.fields])
        r0 = st.iloc[0]
        d2, sy, sx = (a.copy() for a in _unpack(r0.px, tile))
        tx, ty = int(r0.tile_x), int(r0.tile_y)
        sites_y, sites_x = [], []
        for r in pdf[pdf["px"].isna()].itertuples():
            sites_y.append(np.frombuffer(r.sy, np.float64))
            sites_x.append(np.frombuffer(r.sx, np.float64))
        changed = 0
        if sites_y:
            cy = np.unique(np.stack([np.concatenate(sites_y),
                                     np.concatenate(sites_x)]), axis=1)
            gy_s, gx_s = cy[0], cy[1]
            yy, xx = np.mgrid[0:tile, 0:tile]
            pgy = (yy + ty * tile).astype(np.float64)
            pgx = (xx + tx * tile).astype(np.float64)
            for s in range(0, len(gy_s), 512):
                ay = gy_s[s:s + 512]
                ax = gx_s[s:s + 512]
                dd = ((pgy[..., None] - ay) ** 2
                      + (pgx[..., None] - ax) ** 2)
                cmin = dd.min(axis=-1)
                carg = dd.argmin(axis=-1)
                upd = cmin < d2 - 1e-9
                if upd.any():
                    changed = 1
                    d2 = np.where(upd, cmin, d2)
                    sy = np.where(upd, ay[carg], sy)
                    sx = np.where(upd, ax[carg], sx)
        return pd.DataFrame(
            [(int(r0.band), int(r0.zoom), tx, ty, _pack(d2, sy, sx),
              changed)],
            columns=[f.name for f in _OUT_SCHEMA.fields])

    for _ in range(max_rounds):
        ring = state.mapInPandas(emit_ring, _RING_SCHEMA)
        merged = state.withColumn("sy", F.lit(None).cast("binary")) \
            .withColumn("sx", F.lit(None).cast("binary")) \
            .unionByName(ring.withColumn("px", F.lit(None).cast("binary")))
        nxt = merged.groupBy(*keys).applyInPandas(relax, _OUT_SCHEMA) \
            .localCheckpoint()
        n_changed = nxt.agg(F.sum("changed")).collect()[0][0] or 0
        state = nxt.drop("changed")
        if n_changed == 0:
            break

    def finish(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples():
            d2, _, _ = _unpack(r.px, tile)
            d = np.sqrt(np.minimum(d2, _INF))
            d = np.where(d2 >= _INF, np.inf, d)
            if maxdist is not None:
                d = np.minimum(d, maxdist)
            out.append((r.band, r.zoom, r.tile_x, r.tile_y, "float64",
                        None, encode_px(d.astype(np.float64))))
        return pd.DataFrame(out, columns=[f.name for f in TILE_SCHEMA.fields])

    return state.groupBy(*keys).applyInPandas(finish, TILE_SCHEMA)
