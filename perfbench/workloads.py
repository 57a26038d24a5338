"""The benchmark workloads. Each drives the engine through its public
modules only and checks every output against an independent oracle.

A workload object has:

* ``prepare(spark, work, rng)`` — write the seeded inputs and compute the
  expected outputs (untimed); returns the input sizes;
* ``iterate(spark, tracer)`` — one closed-loop iteration (timed); returns
  the outputs to check;
* ``check(out)`` — names of the operations of that iteration whose output
  is wrong (untimed);
* ``calls`` — engine operations per iteration;
* ``unit_name`` — what ``items_per_s`` counts on this workload;
* ``notes`` — findings of the last check worth recording in the summary;
* ``throughputs(outs, wall)`` — the design's throughput figures of this
  workload, from the steady outputs and their median wall.

``iterate`` reports the items one iteration processed (``items``), the
walls of its parts (``part_s``) and the spatial-join output pairs.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np

import inputs
import stats

# the part of bench.HEADLINE one run can afford (README.md: "Workloads
# from the design that are not run")
HEADLINE_RUN = [
    "pip_grid", "tile_assign", "knn_centroids", "dedup_exact",
    "ogr_groupby_pricing", "extract_text",
]


def _sorted_rows(rows, cols):
    """Rows with columns in name order, sorted — the engine's oracle
    comparison (scripts/check_correctness.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _same(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float) \
                    and math.isnan(x) and math.isnan(y):
                continue
            if x != y:
                return False
    return True


def region_counts_oracle(con, pages_sql: str) -> dict[int, int]:
    """(region_id -> pages inside) over grid and convex regions, by DuckDB:
    grid membership is floor arithmetic, convex membership half-plane
    tests — neither shares code with the engine's cell cover or ray cast."""
    from gdal_spark import datagen
    sql = (f"WITH pts AS ({pages_sql}) "
           f"SELECT {datagen.grid_pip_oracle_predicate()} AS region_id, "
           "count(*) AS n_pages FROM pts GROUP BY 1 "
           f"UNION ALL SELECT region_id, n_pages FROM "
           f"{datagen.convex_pip_oracle_sql('pts')} u WHERE n_pages > 0")
    return {int(r): int(n) for r, n in con.execute(sql).fetchall()}


class Canonical:
    """``pipeline.run_canonical_job`` over a cell-sorted page table."""

    name = "canonical"
    calls = 1
    n_pages = 2_000_000
    unit_name = "pages"

    def __init__(self):
        self.notes = {}

    def prepare(self, spark, work, rng):
        import duckdb

        from gdal_spark import datagen
        self.pages = os.path.join(work, "pages")
        self.stages = os.path.join(work, "stages")
        inputs.write_pages(self.pages, rng, self.n_pages)
        datagen.regions_pdf()          # the region dimension table
        with duckdb.connect() as con:
            self.expect = region_counts_oracle(
                con, f"SELECT lon, lat FROM read_parquet('{self.pages}/*')")
        return {"pages": self.n_pages}

    def reset(self):
        shutil.rmtree(self.stages, ignore_errors=True)

    def iterate(self, spark, tracer):
        from gdal_spark import pipeline
        with tracer.span("lineage.job"):
            metrics = pipeline.run_canonical_job(
                spark, self.n_pages, self.stages, pages_path=self.pages)
        # pairs: the oracle's total, which check() holds the output to
        return {"metrics": metrics, "items": self.n_pages, "part_s": {},
                "pairs": sum(self.expect.values())}

    def _table(self, stage, columns):
        import pyarrow.parquet as pq
        return pq.read_table(os.path.join(self.stages, stage),
                             columns=columns)

    def check(self, out):
        import pyarrow.compute as pc
        counts = self._table("pip_counts", ["region_id", "n_pages"])
        got = dict(zip(counts["region_id"].to_pylist(),
                       counts["n_pages"].to_pylist()))
        ok = (got == self.expect
              and all(pc.sum(self._table(stage, ["burn"])["burn"]).as_py()
                      == self.n_pages
                      for stage in ("tile_density", "overview")))
        return [] if ok else ["run_canonical_job"]

    def throughputs(self, outs, wall):
        return {"pages_per_s": (self.n_pages / wall, "1/s")}

    def bytes_written(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, files in os.walk(self.stages) for f in files)


class Headline:
    """Headline queries from ``queries.Q`` over a seeded corpus plus the
    GeoTIFF round trip, one pass per iteration in a seeded order. Each
    query is checked against its ``queries.ORACLE`` DuckDB SQL, the round
    trip against numpy."""

    name = "headline"
    tables = ("documents", "embeddings", "lineitem")
    sizes = (5000, 2000, 600_000)      # rows of each table, as in sf0.1
    ROUNDTRIP = "geotiff_roundtrip"
    unit_name = "engine calls"

    def __init__(self):
        self.raster = Raster()
        self.calls = len(HEADLINE_RUN) + self.raster.calls
        self.decoded_bytes = self.raster.decoded_bytes
        self.notes = self.raster.notes

    def prepare(self, spark, work, rng):
        import duckdb

        from gdal_spark import datagen, queries
        self.sf_dir = os.path.join(work, "sf")
        sizes = inputs.write_corpus(self.sf_dir, rng, *self.sizes)
        sizes |= self.raster.prepare(spark, work, rng)
        ops = HEADLINE_RUN + [self.ROUNDTRIP]
        self.order = [ops[i] for i in rng.permutation(len(ops))]
        datagen.regions_pdf()
        self.expect = {}
        with duckdb.connect() as con:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for q in HEADLINE_RUN:
                res = con.execute(queries.ORACLE[q])
                cols = [d[0] for d in res.description]
                self.expect[q] = (sorted(cols),
                                  _sorted_rows(res.fetchall(), cols))
        return sizes | {"order": self.order}

    def reset(self):
        self.raster.reset()

    def iterate(self, spark, tracer):
        from gdal_spark.queries import Q
        out, part_s, pairs = {}, {}, 0
        for q in self.order:
            t0 = time.perf_counter()
            if q == self.ROUNDTRIP:
                out[q] = self.raster.iterate(spark, tracer)
                part_s[q] = time.perf_counter() - t0
                continue
            with tracer.span("queries.call", q):
                with tracer.span("queries.build", q):
                    df = Q[q](spark, self.sf_dir)
                with tracer.span("queries.exec", q):
                    rows = [tuple(r) for r in df.collect()]
                    cols = df.columns
            part_s[q] = time.perf_counter() - t0
            out[q] = (cols, rows)
            if q.startswith("pip_") and "n_pages" in cols:
                i = cols.index("n_pages")
                pairs += sum(r[i] for r in rows)
        return {"results": out, "pairs": pairs, "items": self.calls,
                "part_s": part_s}

    def check(self, out):
        bad = self.raster.check(out["results"][self.ROUNDTRIP])
        for q in HEADLINE_RUN:
            cols, rows = out["results"][q]
            ecols, erows = self.expect[q]
            if sorted(cols) != ecols or \
                    not _same(_sorted_rows(rows, cols), erows):
                bad.append(q)
        return bad


    def throughputs(self, outs, wall):
        """Queries and the round trip, each over its own median wall."""
        rt = self.ROUNDTRIP
        parts = [o["part_s"] for o in outs]
        queries = [sum(v for k, v in p.items() if k != rt) for p in parts]
        return {"queries_per_s": (len(HEADLINE_RUN) / stats.median(queries),
                                  "1/s"),
                "mpix_per_s": (self.raster.pixels / 1e6
                               / stats.median([p[rt] for p in parts]),
                               "Mpx/s")}


class Raster:
    """GeoTIFF round trip: ``read_gtiff`` -> ``build_pyramid(.., 3)`` ->
    ``write_cog`` -> ``read_gtiff(ifd=1)`` on a seeded tiled, deflated
    uint16 raster."""

    calls = 4
    levels = 3
    size = 512
    tile = 256
    pixels = size * size
    decoded_bytes = pixels * 2      # uint16

    def __init__(self):
        self.notes = {}

    def prepare(self, spark, work, rng):
        from gdal_spark.sources.geotiff import write_gtiff
        self.src = os.path.join(work, "src.tif")
        self.cog = os.path.join(work, "out.cog.tif")
        arr = inputs.raster_array(rng, self.size)
        write_gtiff(arr, self.src, tile=self.tile, compression="deflate")
        # expected pyramid: build_pyramid's integer average rounds half up
        # (GDAL overview.cpp); write_cog's overview today is the float mean
        # cast to the dtype, which truncates
        self.expect = [arr]
        cur = arr.astype(np.float64)
        for _ in range(self.levels):
            h, w = cur.shape
            cur = np.floor(cur.reshape(h // 2, 2, w // 2, 2)
                           .mean(axis=(1, 3)) + 0.5)
            self.expect.append(cur.astype(np.uint16))
        h = self.size // 2
        self.expect_cog = (arr.astype(np.float64).reshape(h, 2, h, 2)
                           .mean(axis=(1, 3)).astype(np.uint16))
        return {"pixels": self.size * self.size, "tile": self.tile,
                "dtype": "uint16", "compression": "deflate"}

    def reset(self):
        if os.path.exists(self.cog):
            os.remove(self.cog)

    def iterate(self, spark, tracer):
        from gdal_spark.raster.pyramid import build_pyramid
        from gdal_spark.sources.geotiff import read_gtiff, write_cog
        with tracer.span("geotiff.read"):
            tiles = read_gtiff(spark, self.src, tile=self.tile).persist()
            tiles.count()
        try:
            with tracer.span("pyramid.build"):
                pyr = build_pyramid(tiles, self.levels,
                                    tile=self.tile).collect()
            with tracer.span("geotiff.write_cog"):
                write_cog(tiles, self.cog, self.size, self.size,
                          tile=self.tile, dtype="uint16")
            with tracer.span("geotiff.read_ovr"):
                ovr = read_gtiff(spark, self.cog, tile=self.tile,
                                 ifd=1).collect()
        finally:
            tiles.unpersist()
        return {"pyramid": pyr, "ovr": ovr}

    def _mosaic(self, rows, size):
        from gdal_spark.raster.tiles import decode_px
        t = self.tile
        n = -(-size // t) * t
        out = np.zeros((n, n), np.uint16)
        for r in rows:
            out[r.tile_y * t:(r.tile_y + 1) * t,
                r.tile_x * t:(r.tile_x + 1) * t] = \
                decode_px(r.px, r.dtype, t)
        return out[:size, :size]

    def check(self, out):
        bad = []
        levels = []
        for lv, want in enumerate(self.expect):
            rows = [r for r in out["pyramid"] if r.zoom == -lv]
            got = self._mosaic(rows, want.shape[0])
            levels.append(got)
            if not np.array_equal(got, want):
                bad.append("read_gtiff" if lv == 0 else "build_pyramid")
        ovr = self._mosaic(out["ovr"], self.size // 2)
        # the ifd=1 read should equal pyramid level 1 (round half up); the
        # engine's COG overview truncates instead (README.md, "Known engine
        # divergence"). Either rule passes, so fixing the engine is not a
        # failure; the pixels that differ from level 1 are recorded.
        if not (np.array_equal(ovr, self.expect[1])
                or np.array_equal(ovr, self.expect_cog)):
            bad.append("write_cog")
        self.notes["cog_ovr_px_off_pyramid"] = int(
            np.count_nonzero(ovr != levels[1]))
        return sorted(set(bad))


WORKLOADS = {w.name: w for w in (Canonical, Headline)}
