"""WMS-client tile services (frmts/wms minidrivers TMS + WMS GetMap,
frmts/wmts capabilities): config parse, JVM-side URL plans, distributed
fetch/decode roundtrips against a file://-served pyramid."""

import os

import numpy as np
import pytest

from gdal_spark.raster.tiles import raster_to_tiles, tiles_to_raster
from gdal_spark.sources.tileservice import (parse_wms_config,
                                            parse_wmts_capabilities,
                                            read_tileservice, read_wmts,
                                            tile_plan, write_xyz_pyramid)


def _img(seed=7, h=48, w=64):
    return np.random.RandomState(seed).randint(
        0, 256, (h, w), dtype=np.uint8)


def _tms_xml(url, *, ulx=0.0, uly=48.0, lrx=64.0, lry=0.0, level=0,
             tcx=4, tcy=3, bs=16, bands=1, origin="top", extra=""):
    return f"""<GDAL_WMS>
  <Service name="TMS"><ServerUrl>{url}</ServerUrl></Service>
  <DataWindow>
    <UpperLeftX>{ulx}</UpperLeftX><UpperLeftY>{uly}</UpperLeftY>
    <LowerRightX>{lrx}</LowerRightX><LowerRightY>{lry}</LowerRightY>
    <TileLevel>{level}</TileLevel>
    <TileCountX>{tcx}</TileCountX><TileCountY>{tcy}</TileCountY>
    <YOrigin>{origin}</YOrigin>
  </DataWindow>
  <BlockSizeX>{bs}</BlockSizeX><BlockSizeY>{bs}</BlockSizeY>
  <BandsCount>{bands}</BandsCount>{extra}
</GDAL_WMS>"""


def test_tms_roundtrip_top_origin(spark, tmp_path):
    img = _img()
    t = raster_to_tiles(spark, img, zoom=0, tile=16)
    n = write_xyz_pyramid(t, str(tmp_path), tile=16)
    assert n == 12
    cfg = _tms_xml(f"file://{tmp_path}/${{z}}/${{x}}/${{y}}.png")
    df, meta = read_tileservice(spark, cfg, level=0)
    assert meta["geotransform"] == (0.0, 1.0, 0.0, 48.0, 0.0, -1.0)
    got = tiles_to_raster(df, tile=16)
    assert np.array_equal(got[:48, :64], img)


def test_tms_bottom_origin_flip(spark, tmp_path):
    """YOrigin=bottom: engine row ty fetches server row ny-1-ty (the
    reference's tms_y computation)."""
    img = _img(9)
    t = raster_to_tiles(spark, img, zoom=0, tile=16)
    write_xyz_pyramid(t, str(tmp_path), tile=16, y_origin="bottom", ny=3)
    cfg = _tms_xml(f"file://{tmp_path}/${{z}}/${{x}}/${{y}}.png",
                   origin="bottom")
    got = tiles_to_raster(read_tileservice(spark, cfg, level=0)[0],
                          tile=16)
    assert np.array_equal(got[:48, :64], img)


def test_tms_sparse_and_zeroblock(spark, tmp_path):
    img = _img(3)
    t = raster_to_tiles(spark, img, zoom=0, tile=16)
    write_xyz_pyramid(t, str(tmp_path), tile=16)
    os.remove(tmp_path / "0" / "1" / "1.png")
    url = f"file://{tmp_path}/${{z}}/${{x}}/${{y}}.png"
    df, _ = read_tileservice(spark, _tms_xml(url), level=0)
    assert df.count() == 11                      # missing tile skipped
    dfz, _ = read_tileservice(
        spark, _tms_xml(url, extra="<ZeroBlockOnServerException>true"
                                   "</ZeroBlockOnServerException>"),
        level=0)
    assert dfz.count() == 12                     # zero-filled instead
    got = tiles_to_raster(dfz, tile=16)
    assert not got[16:32, 16:32].any()


def test_tms_level_grid_and_bbox_prune(spark, tmp_path):
    """Level-1 grid doubles TileCountX/Y; a bbox selects only the
    intersecting tiles (closed-form, no fetch of the rest)."""
    cfg = parse_wms_config(
        _tms_xml(f"file://{tmp_path}/${{z}}/${{x}}/${{y}}.png", level=1))
    plan = tile_plan(spark, cfg, 1)
    assert plan.count() == 8 * 6
    sub = tile_plan(spark, cfg, 1, bbox=(0.0, 40.0, 15.9, 48.0))
    rows = sorted((r.tile_x, r.tile_y) for r in sub.collect())
    assert rows == [(0, 0), (1, 0)]
    assert all("/1/" in r.url for r in sub.collect())


def test_wms_getmap_roundtrip(spark, tmp_path):
    """WMS minidriver: per-tile GetMap BBOX urls (reference parameter
    order + %.8f), served from files named by the full query string."""
    from gdal_spark.sources.png import encode_png
    img = _img(11)
    xml = f"""<GDAL_WMS>
  <Service name="WMS">
    <ServerUrl>file://{tmp_path}/wms</ServerUrl>
    <Version>1.1.1</Version><Layers>doc</Layers>
    <ImageFormat>image/png</ImageFormat><SRS>EPSG:32633</SRS>
    <BBoxOrder>xyXY</BBoxOrder>
  </Service>
  <DataWindow>
    <UpperLeftX>0</UpperLeftX><UpperLeftY>48</UpperLeftY>
    <LowerRightX>64</LowerRightX><LowerRightY>0</LowerRightY>
    <TileLevel>0</TileLevel>
    <TileCountX>4</TileCountX><TileCountY>3</TileCountY>
  </DataWindow>
  <BlockSizeX>16</BlockSizeX><BlockSizeY>16</BlockSizeY>
  <BandsCount>1</BandsCount>
</GDAL_WMS>"""
    cfg = parse_wms_config(xml)
    plan = tile_plan(spark, cfg, 0).collect()
    assert len(plan) == 12
    one = next(r for r in plan if (r.tile_x, r.tile_y) == (0, 0))
    assert ("request=GetMap&service=WMS&version=1.1.1&layers=doc"
            in one.url)
    assert "bbox=0.00000000,32.00000000,16.00000000,48.00000000" \
        in one.url
    assert one.url.endswith("&srs=EPSG:32633")
    for r in plan:
        path = r.url[len("file://"):]
        tile = img[r.tile_y * 16:(r.tile_y + 1) * 16,
                   r.tile_x * 16:(r.tile_x + 1) * 16]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(encode_png(tile))
    got = tiles_to_raster(read_tileservice(spark, cfg, level=0)[0],
                          tile=16)
    assert np.array_equal(got[:48, :64], img)


def test_wmts_capabilities_roundtrip(spark, tmp_path):
    img = _img(13)
    t = raster_to_tiles(spark, img, zoom=0, tile=16)
    write_xyz_pyramid(t, str(tmp_path), tile=16)
    # 16-px tiles, 1 unit/px -> ScaleDenominator = 1 / 0.28e-3
    sd = 1.0 / 0.28e-3
    caps = f"""<Capabilities xmlns="http://www.opengis.net/wmts/1.0"
      xmlns:ows="http://www.opengis.net/ows/1.1">
  <Contents>
    <Layer>
      <ows:Identifier>doc</ows:Identifier>
      <Style><ows:Identifier>default</ows:Identifier></Style>
      <Format>image/png</Format>
      <TileMatrixSetLink><TileMatrixSet>grid</TileMatrixSet>
      </TileMatrixSetLink>
      <ResourceURL resourceType="tile" format="image/png"
        template="file://{tmp_path}/{{TileMatrix}}/{{TileCol}}/{{TileRow}}.png"/>
    </Layer>
    <TileMatrixSet>
      <ows:Identifier>grid</ows:Identifier>
      <TileMatrix>
        <ows:Identifier>0</ows:Identifier>
        <ScaleDenominator>{sd}</ScaleDenominator>
        <TopLeftCorner>0 48</TopLeftCorner>
        <TileWidth>16</TileWidth><TileHeight>16</TileHeight>
        <MatrixWidth>4</MatrixWidth><MatrixHeight>3</MatrixHeight>
      </TileMatrix>
    </TileMatrixSet>
  </Contents>
</Capabilities>"""
    info = parse_wmts_capabilities(caps)
    assert info["layer"] == "doc" and info["matrices"][0]["id"] == "0"
    df, meta = read_wmts(spark, info, bands=1)
    assert meta["tile_matrix"] == "0"
    gt = meta["geotransform"]
    assert abs(gt[1] - 1.0) < 1e-12 and gt[0] == 0.0 and gt[3] == 48.0
    got = tiles_to_raster(df, tile=16)
    assert np.array_equal(got[:48, :64], img)


def test_open_raster_dispatch(spark, tmp_path):
    """open_raster sniffs <GDAL_WMS> service descriptions (the
    reference's WMSDriverIdentify)."""
    from gdal_spark.sources import open_raster
    img = _img(21)
    t = raster_to_tiles(spark, img, zoom=0, tile=16)
    write_xyz_pyramid(t, str(tmp_path / "pyr"), tile=16)
    xml_path = tmp_path / "svc.xml"
    xml_path.write_text(_tms_xml(
        f"file://{tmp_path}/pyr/${{z}}/${{x}}/${{y}}.png"))
    got = tiles_to_raster(open_raster(spark, str(xml_path)), tile=16)
    assert np.array_equal(got[:48, :64], img)


def test_rgb_tiles_band_planes(spark, tmp_path):
    """A 3-band PNG pyramid decodes to three TILE_SCHEMA planes."""
    from gdal_spark.sources.png import encode_png
    rng = np.random.RandomState(5)
    rgb = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    d = tmp_path / "0" / "0"
    os.makedirs(d)
    with open(d / "0.png", "wb") as f:
        f.write(encode_png(rgb))
    cfg = _tms_xml(f"file://{tmp_path}/${{z}}/${{x}}/${{y}}.png",
                   tcx=1, tcy=1, uly=16.0, lrx=16.0, bands=3)
    df, _ = read_tileservice(spark, cfg, level=0)
    rows = {r.band: r for r in df.collect()}
    assert sorted(rows) == [1, 2, 3]
    from gdal_spark.raster.tiles import decode_px
    for b in (1, 2, 3):
        assert np.array_equal(
            decode_px(rows[b].px, rows[b].dtype, 16), rgb[:, :, b - 1])


def test_gray_tiles_fill_declared_bands(spark, tmp_path):
    """BandsCount=3 over a gray PNG pyramid: every tile carries three
    equal band planes, as many as meta['bands'] declares."""
    img = _img(4)
    write_xyz_pyramid(raster_to_tiles(spark, img, zoom=0, tile=16),
                      str(tmp_path), tile=16)
    cfg = _tms_xml(f"file://{tmp_path}/${{z}}/${{x}}/${{y}}.png", bands=3)
    df, meta = read_tileservice(spark, cfg, level=0)
    assert meta["bands"] == 3
    per_tile = {}
    for r in df.collect():
        per_tile.setdefault((r.tile_x, r.tile_y), {})[r.band] = r.px
    assert len(per_tile) == 12
    for planes in per_tile.values():
        assert sorted(planes) == [1, 2, 3]
        assert planes[1] == planes[2] == planes[3]
    for b in (1, 2, 3):
        got = tiles_to_raster(df.where(f"band = {b}"), tile=16)
        assert np.array_equal(got[:48, :64], img)
