"""Derived recipe with context dilation vs single-node oracle: a 3×3 box
sum over a primitive raster, computed per tile with 1px halos."""

import numpy as np
import pytest

from buzzard_spark import Footprint
from buzzard_spark.operators.recipe import (assemble, cached_tile_compute,
                                            derived_tile_compute)
from buzzard_spark.sources.snapshot_table import SnapshotTable


@pytest.fixture(scope='module')
def fp():
    # unit pixels: per-tile spatial coords are exact integers, so per-tile
    # compute is bitwise identical to the full-array oracle
    return Footprint(tl=(0, 90), size=(90, 90), rsize=(90, 90))


def _src(tile_fp):
    xs, ys = tile_fp.meshgrid_spatial
    return (np.sin(xs * 3.7) * 100 + ys * ys).astype('float64')


def _box3(tile_fp, window_fp, prims):
    win = prims['dsm']
    out = np.zeros((win.shape[0] - 2, win.shape[1] - 2), dtype=win.dtype)
    for dy in range(3):
        for dx in range(3):
            out += win[dy:dy + out.shape[0], dx:dx + out.shape[1]]
    return out


def test_derived_matches_oracle_and_resumes(spark, fp, tmp_path):
    src_root = str(tmp_path / 'src')
    out_root = str(tmp_path / 'out')
    cached_tile_compute(spark, fp, 30, _src, src_root)
    src_tiles = SnapshotTable(src_root).read(spark)

    out_df, n1 = derived_tile_compute(
        spark, fp, 30, _box3, out_root, {'dsm': src_tiles},
        context_px=1, fill=0.0)
    assert n1 == 9
    got = assemble(out_df.collect(), fp)

    full = _src(fp)
    padded = np.pad(full, 1, mode='constant')
    truth = np.zeros_like(full)
    for dy in range(3):
        for dx in range(3):
            truth += padded[dy:dy + 90, dx:dx + 90]
    assert np.array_equal(got, truth)

    # warm: nothing recomputed
    _, n2 = derived_tile_compute(
        spark, fp, 30, _box3, out_root, {'dsm': src_tiles},
        context_px=1, fill=0.0)
    assert n2 == 0


def test_derived_multi_primitive(spark, fp, tmp_path):
    a_root = str(tmp_path / 'a')
    b_root = str(tmp_path / 'b')
    out_root = str(tmp_path / 'o')
    cached_tile_compute(spark, fp, 30, _src, a_root)
    cached_tile_compute(
        spark, fp, 45, lambda tfp: np.full(tuple(tfp.shape), 2.0), b_root)

    def _mul(tile_fp, window_fp, prims):
        return prims['a'] * prims['b']

    out_df, _ = derived_tile_compute(
        spark, fp, 30, _mul, out_root,
        {'a': SnapshotTable(a_root).read(spark),
         'b': SnapshotTable(b_root).read(spark)},
        context_px=0)
    got = assemble(out_df.collect(), fp)
    assert np.array_equal(got, _src(fp) * 2.0)


def test_derived_tiles_outside_every_primitive_complete(spark, tmp_path):
    """Output tiles that no primitive tile overlaps are computed over
    all-``fill`` windows and recorded, so a second call computes nothing:
    a 60×60 recipe (tile 30) over a 30×30 primitive at its top-left."""
    big = Footprint(tl=(0, 60), size=(60, 60), rsize=(60, 60))
    small = Footprint(tl=(0, 60), size=(30, 30), rsize=(30, 30))
    src_root = str(tmp_path / 'src')
    out_root = str(tmp_path / 'out')
    cached_tile_compute(spark, small, 30, _src, src_root)
    prims = {'dsm': SnapshotTable(src_root).read(spark)}

    def _plus1(tile_fp, window_fp, prims):
        return prims['dsm'] + 1.0

    _, n1 = derived_tile_compute(spark, big, 30, _plus1, out_root, prims,
                                 fill=-5.0)
    assert n1 == 4
    out_df, n2 = derived_tile_compute(spark, big, 30, _plus1, out_root,
                                      prims, fill=-5.0)
    assert n2 == 0
    rows = out_df.collect()
    assert sorted((r['tile_y'], r['tile_x']) for r in rows) == [
        (0, 0), (0, 1), (1, 0), (1, 1)]
    truth = np.full((60, 60), -4.0)
    truth[:30, :30] = _src(small) + 1.0
    assert np.array_equal(assemble(rows, big), truth)
