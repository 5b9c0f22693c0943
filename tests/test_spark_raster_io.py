"""Distributed windowed read / masked write vs single-node oracles."""

import numpy as np
import pytest

from buzzard_spark import Footprint
from buzzard_spark.kernels import remap as remap_k
from buzzard_spark.operators.raster_io import get_data, set_data
from buzzard_spark.operators.recipe import cached_tile_compute
from buzzard_spark.sources.snapshot_table import SnapshotTable


def _ramp(tile_fp):
    xs, ys = tile_fp.meshgrid_spatial
    return (xs + ys).astype('float32')


@pytest.fixture(scope='module')
def raster_fp():
    return Footprint(tl=(0, 10), size=(10, 10), rsize=(100, 100))


@pytest.fixture(scope='module')
def cache(spark, raster_fp, tmp_path_factory):
    root = str(tmp_path_factory.mktemp('rio'))
    cached_tile_compute(spark, raster_fp, 30, _ramp, root)
    return root


def _full(raster_fp):
    xs, ys = raster_fp.meshgrid_spatial
    return (xs + ys).astype('float32')


def _tiles(spark, cache):
    return SnapshotTable(cache).read(
        spark, dedupe_keys=['tile_y', 'tile_x', 'channel'])


def test_full_read(spark, raster_fp, cache):
    out = get_data(spark, _tiles(spark, cache), raster_fp, nodata=-32000)
    assert np.array_equal(out, _full(raster_fp))


def test_window_inside(spark, raster_fp, cache):
    fp = raster_fp.clip(10, 20, 55, 66)
    out = get_data(spark, _tiles(spark, cache), raster_fp, fp, nodata=-32000)
    assert np.array_equal(out, _full(raster_fp)[20:66, 10:55])


def test_window_partially_outside(spark, raster_fp, cache):
    fp = raster_fp.dilate(5)
    out = get_data(spark, _tiles(spark, cache), raster_fp, fp, nodata=-32000)
    assert out.shape == (110, 110)
    assert (out[:5, :] == -32000).all() and (out[-5:, :] == -32000).all()
    assert np.array_equal(out[5:-5, 5:-5], _full(raster_fp))


def test_window_disjoint(spark, raster_fp, cache):
    fp = Footprint(tl=(1000, 1000), size=(5, 5), rsize=(5, 5))
    out = get_data(spark, _tiles(spark, cache), raster_fp, fp, nodata=-32000)
    assert (out == -32000).all()


def test_resampled_read_matches_kernel_oracle(spark, raster_fp, cache):
    fp = Footprint(tl=(1.25, 8.75), size=(5, 5), rsize=(20, 20))
    assert not fp.same_grid(raster_fp)
    out = get_data(spark, _tiles(spark, cache), raster_fp, fp,
                   nodata=-32000, interpolation='linear')
    # oracle: kernel remap over the full single-node array
    truth = remap_k.remap(raster_fp, fp, array=_full(raster_fp),
                          src_nodata=-32000, dst_nodata=-32000,
                          interpolation='linear')
    assert np.allclose(out, truth)


def test_set_data_masked_roundtrip(spark, raster_fp, tmp_path):
    root = str(tmp_path / 'w')
    cached_tile_compute(spark, raster_fp, 30, _ramp, root)
    before = _full(raster_fp)

    patch_fp = raster_fp.clip(25, 35, 65, 75)
    patch = np.full((40, 40), 777.0, dtype='float32')
    mask = np.zeros((40, 40), dtype=bool)
    mask[10:30, 5:25] = True
    set_data(spark, root, raster_fp, 30, patch, patch_fp, mask=mask)

    tiles = SnapshotTable(root).read(
        spark, dedupe_keys=['tile_y', 'tile_x', 'channel'])
    after = get_data(spark, tiles, raster_fp, nodata=-32000)
    truth = before.copy()
    truth[35:75, 25:65][mask] = 777.0
    assert np.array_equal(after, truth)


def test_multichannel_roundtrip(spark, raster_fp, tmp_path):
    root = str(tmp_path / 'mc')

    def _rgb(tile_fp):
        xs, ys = tile_fp.meshgrid_spatial
        return np.dstack([xs, ys, xs * 0 + 7.0]).astype('float32')

    cached_tile_compute(spark, raster_fp, 30, _rgb, root)
    tiles = SnapshotTable(root).read(
        spark, dedupe_keys=['tile_y', 'tile_x', 'channel'])

    out = get_data(spark, tiles, raster_fp, nodata=-32000)
    assert out.shape == (100, 100, 3)
    xs, ys = raster_fp.meshgrid_spatial
    assert np.array_equal(out[:, :, 0], xs.astype('float32'))
    assert np.array_equal(out[:, :, 2], np.full((100, 100), 7.0, 'float32'))

    # single-channel flat read + channel subset
    c1 = get_data(spark, tiles, raster_fp, nodata=-32000, channels=1)
    assert c1.shape == (100, 100)
    assert np.array_equal(c1, ys.astype('float32'))
    c20 = get_data(spark, tiles, raster_fp, nodata=-32000, channels=[2, 0])
    assert c20.shape == (100, 100, 2)
    assert np.array_equal(c20[:, :, 1], xs.astype('float32'))

    # masked write to one channel leaves the others intact
    patch_fp = raster_fp.clip(0, 0, 40, 40)
    set_data(spark, root, raster_fp, 30,
             np.full((40, 40), -5.0, 'float32'), patch_fp, channel=2)
    tiles2 = SnapshotTable(root).read(
        spark, dedupe_keys=['tile_y', 'tile_x', 'channel'])
    out2 = get_data(spark, tiles2, raster_fp, nodata=-32000)
    assert (out2[:40, :40, 2] == -5.0).all()
    assert (out2[50:, 50:, 2] == 7.0).all()
    assert np.array_equal(out2[:, :, 0], xs.astype('float32'))


def test_window_geotiff_roundtrip(spark, raster_fp, cache):
    """window_geotiff: a window read exported as GeoTIFF decodes back to
    the clipped window values, and geotiff_footprint reconstructs the
    window's exact geotransform — the engine's no-GDAL raster→file path
    round-trips through its own codec."""
    from buzzard_spark.kernels.geotiff import decode_tiff, geotiff_footprint
    from buzzard_spark.operators.raster_io import window_geotiff

    win = Footprint(tl=(2.0, 8.0), size=(3.0, 3.0), rsize=(30, 30))
    payload = window_geotiff(spark, _tiles(spark, cache), raster_fp,
                             request_fp=win, interpolation=None)
    arr = decode_tiff(payload)
    want = np.clip(np.round(
        _full(raster_fp)[win.slice_in(raster_fp)].astype(np.float64)),
        0, 255).astype(np.uint8)
    assert arr.shape == (30, 30)
    assert (arr == want).all()
    fp2 = geotiff_footprint(payload)
    assert tuple(fp2.tl) == (2.0, 8.0)
    assert (fp2.pxsizex, fp2.pxsizey) == (win.pxsizex, win.pxsizey)
    assert (fp2.rsizex, fp2.rsizey) == (30, 30)

    with pytest.raises(ValueError):
        window_geotiff(spark, _tiles(spark, cache), raster_fp,
                       request_fp=win, interpolation=None,
                       channels=[0, 0])   # 2-channel: not grey/RGB
