"""Seeded input generators. The engine only ever sees the files written here.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so one seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# latitude stays inside the web-mercator range the tile math is defined on
LAT_LIMIT = 85.0

# vocabulary of the corpus text (same register as the engine's test corpus)
WORDS = ("a the data spark scan sort hash join group agg filter query table "
         "row column key value window stream batch vector line part order "
         "customer merge big small fast slow").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def write_pages(path: str, rng: np.random.Generator, n: int,
                files: int = 8) -> None:
    """Page table (doc_id, lon, lat), uniform on the map, sorted by the
    packed cell id at ``pipeline.LAYOUT_ZOOM`` — the layout
    ``pipeline.prepare_pages`` writes, built with the numpy twins of the
    engine's column tile math."""
    from gdal_spark import pipeline
    from gdal_spark.core import tilemath

    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-LAT_LIMIT, LAT_LIMIT, n)
    tx, ty = tilemath.latlon_to_tile_xyz(lat, lon, pipeline.LAYOUT_ZOOM)
    order = np.argsort(tilemath.packed_cell_id(tx, ty, pipeline.LAYOUT_ZOOM),
                       kind="stable")
    table = pa.table({"doc_id": np.arange(n, dtype=np.int64),
                      "lon": lon[order], "lat": lat[order]})
    os.makedirs(path, exist_ok=True)
    step = -(-n // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def write_corpus(sf_dir: str, rng: np.random.Generator, n_docs: int,
                 n_vecs: int, n_lines: int) -> dict:
    """The three tables the headline queries read, in the schema of the
    engine's ``sf`` directories: ``documents`` (pages with text; their
    points derive from ``doc_id``), ``embeddings`` and ``lineitem``.
    Distributions follow the sf0.1 tables (perfbench/README.md, "Inputs"):
    10-100 words a page, 41 % English, about 1 page in 600 a duplicate,
    unit-length embeddings with ten labels, TPC-H value ranges.
    Returns the row count of each table."""
    os.makedirs(sf_dir, exist_ok=True)
    # distinct, unordered doc ids so the seed moves every derived point
    doc_id = rng.choice(1_000_000, n_docs, replace=False).astype(np.int64)
    n_words = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in n_words]
    # ~1 in 600 pages repeats an earlier page's text (exact duplicates)
    for i in np.flatnonzero(rng.random(n_docs) < 0.0017):
        if i:
            text[i] = text[int(rng.integers(0, i))]
    pq.write_table(pa.table({
        "doc_id": doc_id,
        "text": text,
        "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }), os.path.join(sf_dir, "documents.parquet"))

    from gdal_spark.operators.simsearch import EMBED_DIM
    emb = rng.standard_normal((n_vecs, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            emb.ravel(), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }), os.path.join(sf_dir, "embeddings.parquet"))

    # TPC-H-shaped lineitem: cent-exact prices, whole-percent rates
    day = np.datetime64("1995-01-02", "D") + rng.integers(0, 2497, n_lines)
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, n_lines // 4, n_lines),
        "l_partkey": rng.integers(0, 20000, n_lines),
        "l_suppkey": rng.integers(0, 1000, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": rng.integers(90000, 10500000, n_lines) / 100.0,
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": pa.array(day.astype("datetime64[us]")),
    }), os.path.join(sf_dir, "lineitem.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs, "lineitem": n_lines}


def raster_array(rng: np.random.Generator, size: int) -> np.ndarray:
    """A size x size uint16 raster: a smooth seeded surface plus noise, so
    deflate has structure to compress and every 2x2 block mean varies."""
    y, x = np.mgrid[0:size, 0:size] / size
    fx, fy, phase = rng.uniform(1.0, 6.0, 3)
    surf = (np.sin(2 * np.pi * fx * x + phase)
            * np.cos(2 * np.pi * fy * y) + 1.0) * 20000.0
    noise = rng.integers(0, 4096, (size, size))
    return (surf + noise).astype(np.uint16)
