"""PAM (.aux.xml) sidecar metadata — gcore/gdalpamdataset.cpp twin:
parse the reference's own autotest sidecars, overlay precedence,
writer/reader roundtrip, gdalinfo surfacing."""

import json
import os

import numpy as np
import pytest

from gdal_spark.sources.pam import apply_pam, read_pam, write_pam

GCORE = "/root/reference/autotest/gcore/data"

needs_ref = pytest.mark.skipif(not os.path.isdir(GCORE),
                               reason="reference fixtures absent")


@needs_ref
def test_reads_reference_georef_sidecar():
    # byte_nogeoref.tif.aux.xml: SRS LOCAL_CS["PAM"], GT 1..6
    pam = read_pam(os.path.join(GCORE, "byte_nogeoref.tif"))
    assert pam["srs"] == 'LOCAL_CS["PAM"]'
    assert pam["geotransform"] == (1.0, 2.0, 3.0, 4.0, 5.0, 6.0)


@needs_ref
def test_reads_reference_metadata_domains():
    pam = read_pam(os.path.join(GCORE, "byte.pnm"))
    assert pam["metadata"][""] == {"other": "red", "key": "value"}
    assert "TestXML" in pam["metadata"]["xml:test"]


@needs_ref
def test_reads_reference_gcp_list():
    pam = read_pam(os.path.join(GCORE, "byte_gcp.tif"))
    assert pam["gcp_projection"] == 'LOCAL_CS["PAM"]'
    assert pam["gcps"] == [{"id": "1", "pixel": 0.0, "line": 0.0,
                            "x": 0.0, "y": 0.0, "z": 0.0}]


@needs_ref
def test_apply_pam_overrides_driver_georef():
    """The reference's TryLoadXML order: PAM replaces the format's own
    geotransform/SRS."""
    meta = {"geotransform": (0, 1, 0, 0, 0, -1), "srs": "EPSG:4326",
            "nodata": None}
    pam = read_pam(os.path.join(GCORE, "byte_nogeoref.tif"))
    apply_pam(meta, pam)
    assert meta["geotransform"] == (1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    assert meta["srs"] == 'LOCAL_CS["PAM"]'


def test_write_read_roundtrip(tmp_path):
    p = str(tmp_path / "x.bin")
    open(p, "wb").write(b"\0")
    aux = write_pam(
        p, geotransform=(10.0, 0.5, 0.0, 20.0, 0.0, -0.5),
        srs="EPSG:32633",
        metadata={"": {"AREA_OR_POINT": "Area"},
                  "IMAGERY": {"CLOUDCOVER": "12"}},
        band_stats={1: {"minimum": 0.0, "maximum": 255.0,
                        "mean": 127.1, "stddev": 73.9}},
        band_nodata={1: -9999.0})
    assert os.path.exists(aux)
    back = read_pam(p)
    assert back["geotransform"] == (10.0, 0.5, 0.0, 20.0, 0.0, -0.5)
    assert back["srs"] == "EPSG:32633"
    assert back["metadata"]["IMAGERY"]["CLOUDCOVER"] == "12"
    assert back["bands"][1]["nodata"] == -9999.0
    assert back["bands"][1]["metadata"][""]["STATISTICS_MEAN"] == "127.1"
    meta = {"nodata": None}
    apply_pam(meta, back)
    assert meta["nodata"] == -9999.0 and meta["band_nodata"][1] == -9999.0


def test_gdalinfo_surfaces_pam(spark, tmp_path, capsys):
    from gdal_spark import cli
    from gdal_spark.sources.geotiff import write_gtiff

    p = str(tmp_path / "r.tif")
    write_gtiff(np.zeros((8, 8), np.uint8), p)
    write_pam(p, geotransform=(5.0, 1.0, 0.0, 5.0, 0.0, -1.0),
              band_nodata={1: 0.0})
    assert cli.main(["gdalinfo", p, "-tile", "8"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["pam"]["geotransform"] == [5.0, 1.0, 0.0, 5.0, 0.0, -1.0]
    assert out["pam"]["bands"]["1"]["nodata"] == 0.0


def test_gdalinfo_stats_persists_pam(spark, tmp_path, capsys):
    """`gdalinfo -stats` writes STATISTICS_* to the sidecar (the
    reference's GDALPamRasterBand::SetStatistics path)."""
    from gdal_spark import cli
    from gdal_spark.sources.geotiff import write_gtiff

    p = str(tmp_path / "s.tif")
    write_gtiff(np.arange(64, dtype=np.uint8).reshape(8, 8), p)
    assert cli.main(["gdalinfo", p, "-tile", "8", "-stats"]) == 0
    capsys.readouterr()
    pam = read_pam(p)
    md = pam["bands"][1]["metadata"][""]
    assert md["STATISTICS_MINIMUM"] == "0.0"
    assert md["STATISTICS_MAXIMUM"] == "63.0"


def test_gdal_raster_edit_writes_pam(spark, tmp_path, capsys):
    """`gdal raster edit --bbox/--crs/--metadata` persists through the
    PAM sidecar (gdalalg_raster_edit semantics)."""
    from gdal_spark import cli
    from gdal_spark.sources.geotiff import write_gtiff

    p = str(tmp_path / "e.tif")
    write_gtiff(np.zeros((10, 20), np.uint8), p)
    assert cli.main(["gdal", "raster", "edit",
                     "--crs", "EPSG:32633",
                     "--bbox", "0,0,200,100",
                     "--metadata", "SENSOR=alpha,CLOUDS=3", p]) == 0
    capsys.readouterr()
    pam = read_pam(p)
    assert pam["srs"] == "EPSG:32633"
    assert pam["geotransform"] == (0.0, 10.0, 0.0, 100.0, 0.0, -10.0)
    assert pam["metadata"][""] == {"SENSOR": "alpha", "CLOUDS": "3"}


@pytest.mark.parametrize("edit_first", [True, False])
def test_edit_and_stats_merge_into_one_sidecar(spark, tmp_path, capsys,
                                               edit_first):
    """`gdal raster edit` and `gdalinfo -stats` each merge into the
    sidecar: SRS, geotransform, metadata and statistics all survive, in
    either order (the reference's PAM serializer keeps the dataset's
    whole PAM state)."""
    from gdal_spark import cli
    from gdal_spark.sources.geotiff import write_gtiff

    p = str(tmp_path / "m.tif")
    write_gtiff(np.arange(200, dtype=np.uint8).reshape(10, 20), p)
    edit = ["gdal", "raster", "edit", "--crs", "EPSG:32633",
            "--bbox", "0,0,200,100", "--metadata", "SENSOR=alpha", p]
    stats = ["gdalinfo", p, "-tile", "8", "-stats"]
    for argv in ((edit, stats) if edit_first else (stats, edit)):
        assert cli.main(argv) == 0
    capsys.readouterr()
    pam = read_pam(p)
    assert pam["srs"] == "EPSG:32633"
    assert pam["geotransform"] == (0.0, 10.0, 0.0, 100.0, 0.0, -10.0)
    assert pam["metadata"][""] == {"SENSOR": "alpha"}
    md = pam["bands"][1]["metadata"][""]
    assert (md["STATISTICS_MINIMUM"], md["STATISTICS_MAXIMUM"]) == \
        ("0.0", "199.0")
