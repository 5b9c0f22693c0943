"""Baseline TIFF / GeoTIFF codec (kernels/geotiff.py): roundtrips, the
GeoTIFF tag → Footprint path, PackBits, and malformed-payload rejection."""

import numpy as np
import pytest

from buzzard_spark.kernels import geotiff


def test_tiff_codec_roundtrip_and_geotiff_footprint():
    """Baseline-TIFF codec: encode/decode roundtrip across byte orders,
    strip layouts and grey/RGB; GeoTIFF tags -> engine Footprint with
    the exact geotransform; malformed payloads rejected."""
    for be in (False, True):
        for shape in [(5, 7), (6, 4, 3), (1, 1)]:
            for rps in (None, 1, 3):
                arr = (np.arange(np.prod(shape)) * 7 % 253) \
                    .reshape(shape).astype(np.uint8)
                b = geotiff.encode_tiff(arr, geo=(-30.0, 60.0, 0.5, 0.25),
                                        big_endian=be, rows_per_strip=rps)
                back = geotiff.decode_tiff(b)
                assert back.shape == arr.shape and (back == arr).all()
                fp = geotiff.geotiff_footprint(b)
                assert tuple(fp.tl) == (-30.0, 60.0)
                assert (fp.pxsizex, fp.pxsizey) == (0.5, 0.25)
                assert (fp.rsizex, fp.rsizey) == (arr.shape[1],
                                                  arr.shape[0])

    with pytest.raises(ValueError):
        geotiff.decode_tiff(b'NOPE1234')
    with pytest.raises(ValueError):
        geotiff.decode_tiff(b'II\x2b\x00' + b'\0' * 8)       # bad magic
    grey = np.zeros((2, 2), np.uint8)
    with pytest.raises(ValueError):
        geotiff.tiff_geo(geotiff.encode_tiff(grey))          # no geo tags


def test_tiff_packbits_roundtrip_and_spec_vector():
    """PackBits strips: encode/decode roundtrip on run-heavy, noise and
    literal-heavy images (both endians, multi-strip), plus the Apple
    PackBits specification example byte-for-byte."""
    rng = np.random.RandomState(7)
    cases = [
        np.zeros((4, 300), np.uint8),                        # long runs
        rng.randint(0, 256, (5, 9, 3)).astype(np.uint8),     # noise RGB
        np.tile(np.arange(256, dtype=np.uint8), (3, 2)),     # literals
        np.repeat(np.arange(10, dtype=np.uint8), 13).reshape(10, 13),
    ]
    for arr in cases:
        for be in (False, True):
            for rps in (None, 2):
                b = geotiff.encode_tiff(arr, big_endian=be,
                                        rows_per_strip=rps, packbits=True)
                assert (geotiff.decode_tiff(b) == arr).all()
    # compression actually happened on the run-heavy case
    plain = geotiff.encode_tiff(cases[0])
    packed = geotiff.encode_tiff(cases[0], packbits=True)
    assert len(packed) < len(plain) // 4

    enc = bytes([0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA,
                 0x03, 0x80, 0x00, 0x2A, 0x22, 0xF7, 0xAA])
    want = bytes.fromhex('AAAAAA' + '80002A' + 'AA' * 4
                         + '80002A22' + 'AA' * 10)
    assert geotiff._packbits_decode(enc) == want
    assert geotiff._packbits_decode(geotiff._packbits_encode(want)) == want
