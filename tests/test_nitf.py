"""NITF 2.1: autotest fixture checksum pin, header walk, IMODE
layouts, write/read roundtrip."""

import numpy as np
import pytest

from gdal_spark.core.checksum import gdal_checksum
from gdal_spark.raster.tiles import TILE_SCHEMA, decode_px, encode_px
from gdal_spark.sources import nitf as N

RGB = "/root/reference/autotest/gdrivers/data/nitf/rgb.ntf"


def _assemble(t, m, band):
    ts = m["tile"]
    img = np.zeros((m["height"], m["width"]))
    for r in t.where(f"band = {band}").collect():
        arr = decode_px(r.px, r.dtype, ts)
        y0, x0 = r.tile_y * ts, r.tile_x * ts
        h = min(ts, m["height"] - y0)
        w = min(ts, m["width"] - x0)
        img[y0:y0 + h, x0:x0 + w] = arr[:h, :w]
    return img


def test_rgb_fixture_checksum(spark):
    # autotest/gdrivers/nitf.py:375 — band 3 checksum 21349
    t, m = N.read_nitf(spark, RGB)
    assert (m["width"], m["height"], m["bands"]) == (50, 50, 3)
    assert m["imode"] == "B"
    assert m["igeolo"].startswith("225557S0445025W")
    assert gdal_checksum(_assemble(t, m, 3)) == 21349


def test_header_walk_matches_lish():
    data = open(RGB, "rb").read()
    hdr = N.parse_nitf_header(data)
    sub = N.parse_image_subheader(data, hdr["hl"])
    # field walk may stop short of writer padding, never long
    assert sub["subheader_end"] <= hdr["hl"] + hdr["segments"][0][0]
    assert sub["nbands"] == 3 and sub["ic"] == "NC"


def test_roundtrip_multiblock(spark, tmp_path):
    rng = np.random.RandomState(8)
    img = rng.randint(0, 256, (40, 56)).astype(np.float64)
    rows = []
    for ty in range(3):
        for tx in range(4):
            blk = np.zeros((16, 16))
            sub = img[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
            blk[:sub.shape[0], :sub.shape[1]] = sub
            rows.append((1, 0, tx, ty, "f8", None, bytes(encode_px(blk))))
    t = spark.createDataFrame(rows, TILE_SCHEMA)
    p = str(tmp_path / "o.ntf")
    N.write_nitf(t, p, width=56, height=40, tile=16, dtype="u1")
    back, m = N.read_nitf(spark, p)
    assert m["imode"] == "B" and m["tile"] == 16
    got = _assemble(back, m, 1)
    assert np.array_equal(got, img)


def test_jp2_in_nitf_golden_checksums(spark):
    """IC=C8 (JPEG 2000 codestream segment): the three band checksums
    pinned by the reference across JP2MrSID/JP2KAK/JP2OpenJPEG
    (autotest/gdrivers/nitf.py nitf_check_created_file for
    test_jp2_ecw33.ntf: 32398/42502/38882) — bit-exact through the
    from-scratch T.800 decoder."""
    t, m = N.read_nitf(
        spark,
        "/root/reference/autotest/gdrivers/data/nitf/test_jp2_ecw33.ntf")
    assert m["ic"] == "C8"
    assert (m["width"], m["height"], m["bands"]) == (200, 100, 3)
    rows = t.collect()
    for band, want in ((1, 32398), (2, 42502), (3, 38882)):
        img = np.zeros((m["height"], m["width"]))
        for r in rows:
            if r.band != band:
                continue
            arr = decode_px(r.px, r.dtype, m["tile"])
            y0, x0 = r.tile_y * m["tile"], r.tile_x * m["tile"]
            h = min(m["tile"], m["height"] - y0)
            w = min(m["tile"], m["width"] - x0)
            img[y0:y0 + h, x0:x0 + w] = arr[:h, :w]
        assert gdal_checksum(img) == want, f"band {band}"


def test_m8_reads_only_its_segment(spark, tmp_path):
    """IC=M8: a 4-byte IMDATOFF mask header precedes the codestream, so
    the image data is LI - IMDATOFF bytes. The planned range ends at the
    segment end, not in the bytes that follow it."""
    from gdal_spark.raster.j2k import encode_j2k
    from gdal_spark.raster.tiles import raster_to_tiles
    src = np.random.RandomState(2).randint(0, 256, (40, 56)) \
        .astype(np.uint8)
    p = str(tmp_path / "nc.ntf")
    N.write_nitf(raster_to_tiles(spark, src, tile=16), p, width=56,
                 height=40, tile=16, dtype="u1")
    data = open(p, "rb").read()
    hdr = N.parse_nitf_header(data)
    hl, (lish, li) = hdr["hl"], hdr["segments"][0]
    sub = data[hl:hl + lish]
    ic = sub.index(b"0NC1M ") + 1              # NICOM=0, IC, NBANDS=1
    sub = sub[:ic] + b"M8" + b"    " + sub[ic + 2:]   # + COMRAT
    seg = (4).to_bytes(4, "big") + encode_j2k(src, depth=8)
    trailer = b"\xff\xd9" + b"\x00" * 62     # bytes after the segment
    fl = hl + len(sub) + len(seg) + len(trailer)
    lengths = f"{len(data):012d}{hl:06d}001{lish:06d}{li:010d}".encode()
    assert data[:hl].count(lengths) == 1
    head = data[:hl].replace(lengths, f"{fl:012d}{hl:06d}001"
                             f"{len(sub):06d}{len(seg):010d}".encode())
    m8 = str(tmp_path / "m8.ntf")
    with open(m8, "wb") as f:
        f.write(head + sub + seg + trailer)
    t, m = N.read_nitf(spark, m8)
    assert m["ic"] == "M8"
    off, size = m["data_range"]
    assert (off, off + size) == (hl + len(sub) + 4,
                                 hl + len(sub) + len(seg))
    rows = t.collect()
    assert [r.band for r in rows] == [1]
    got = decode_px(rows[0].px, rows[0].dtype, m["tile"])
    np.testing.assert_array_equal(got[:40, :56], src)
