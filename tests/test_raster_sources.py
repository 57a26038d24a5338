"""The shared raster-source scaffold (raster/tiles.py plane_tiles /
tiles_from_tasks over core/vsi): an IO-seam guard over every tile
reader, and writer -> reader round trips on a raster that is not
tile-aligned, for the readers whose other tests need reference
fixtures."""

import ast
import os

import numpy as np
import pytest

import gdal_spark.sources as sources_pkg
from gdal_spark.raster.tiles import tiles_to_raster

SOURCES = os.path.dirname(sources_pkg.__file__)
_TILE_NAMES = {"TILE_SCHEMA", "plane_tiles", "tiles_from_tasks"}


def _tile_reader_modules():
    for fn in sorted(os.listdir(SOURCES)):
        if not fn.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(SOURCES, fn)).read())
        if any(isinstance(n, ast.ImportFrom) and n.module
               and n.module.endswith("raster.tiles")
               and _TILE_NAMES & {a.name for a in n.names}
               for n in ast.walk(tree)):
            yield fn, tree


def _read_mode_opens(tree):
    """Lines of builtin open() calls that can only read: no mode, or a
    mode without w/a/x/+ (an 'r+b' pwrite sink is a writer)."""
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                and n.func.id == "open"):
            continue
        mode = n.args[1] if len(n.args) > 1 else next(
            (k.value for k in n.keywords if k.arg == "mode"), None)
        if mode is None:
            yield n.lineno
        elif isinstance(mode, ast.Constant) and isinstance(mode.value, str):
            if not set(mode.value) & set("wax+"):
                yield n.lineno
        else:
            yield n.lineno                  # a computed mode may read


def test_tile_readers_read_through_vsi():
    mods = dict(_tile_reader_modules())
    assert {"bmp.py", "geotiff.py", "nitf.py", "zarr.py"} <= set(mods)
    bad = {fn: list(_read_mode_opens(t)) for fn, t in mods.items()}
    assert {fn: ln for fn, ln in bad.items() if ln} == {}


# -- writer -> reader, 300 x 200 at tile 128: both axes end in a padded
# -- edge tile and there are two tile-row strips -------------------------

W, H, TILE = 300, 200, 128


def _u8():
    return np.random.RandomState(11).randint(0, 256, (H, W)) \
        .astype(np.uint8)


def _centi():
    """Values exact under GRIB's 12-bit, 2-decimal simple packing."""
    y, x = np.mgrid[0:H, 0:W]
    return (((x * 3 + y * 7) % 400) + 20000) / 100.0


def _jp2(spark, d):
    from gdal_spark.sources.jp2 import read_jp2, write_jp2
    src = _u8()
    write_jp2(src, os.path.join(d, "a.jp2"))
    return read_jp2(spark, os.path.join(d, "a.jp2"), tile=TILE)[0], \
        {1: src}


def _grib(spark, d):
    from gdal_spark.sources.grib import read_grib, write_grib
    src = {1: _centi(), 2: _centi() + 1.0}
    write_grib([src[1], src[2]], os.path.join(d, "a.grb"), nbits=12,
               d_scale=2)
    return read_grib(spark, os.path.join(d, "a.grb"), tile=TILE)[0], src


def _grib2(spark, d):
    from gdal_spark.sources.grib2 import read_grib2, write_grib2
    src = {1: _centi(), 2: _centi() + 1.0}
    write_grib2([src[1], src[2]], os.path.join(d, "a.grb2"), nbits=12,
                d_scale=2)
    return read_grib2(spark, os.path.join(d, "a.grb2"), tile=TILE)[0], src


def _nitf(spark, d):
    from gdal_spark.raster.tiles import raster_to_tiles
    from gdal_spark.sources.nitf import read_nitf, write_nitf
    src = _u8()
    write_nitf(raster_to_tiles(spark, src, tile=TILE),
               os.path.join(d, "a.ntf"), width=W, height=H, tile=TILE,
               dtype="u1")
    return read_nitf(spark, os.path.join(d, "a.ntf"))[0], {1: src}


def _gtiff(tiled):
    def run(spark, d):
        from gdal_spark.sources.geotiff import read_gtiff, write_gtiff
        src = _centi()
        p = os.path.join(d, "a.tif")
        write_gtiff(src, p, tile=TILE if tiled else None)
        return read_gtiff(spark, p, tile=TILE), {1: src}
    return run


@pytest.mark.parametrize("case", [
    pytest.param(_jp2, id="jp2"), pytest.param(_grib, id="grib"),
    pytest.param(_grib2, id="grib2"), pytest.param(_nitf, id="nitf_nc"),
    pytest.param(_gtiff(False), id="gtiff_strip"),
    pytest.param(_gtiff(True), id="gtiff_tiled")])
def test_writer_reader_unaligned(spark, tmp_path, case):
    tiles, src = case(spark, str(tmp_path))
    nty, ntx = -(-H // TILE), -(-W // TILE)
    for band, want in src.items():
        t = tiles.where(f"band = {band}")
        assert sorted((r.tile_x, r.tile_y) for r in t.collect()) == \
            sorted((x, y) for x in range(ntx) for y in range(nty))
        got = tiles_to_raster(t, tile=TILE)
        assert got.shape == (nty * TILE, ntx * TILE)
        np.testing.assert_array_equal(got[:H, :W], want)
        assert not got[H:, :].any() and not got[:, W:].any()
