"""Tests for zonal raster statistics."""

import numpy as np

from buzzard_spark.kernels.footprint import Footprint
from buzzard_spark.operators import raster_ops


def rect_wkb(minx, miny, maxx, maxy):
    from buzzard_spark.kernels import geometry
    ring = np.asarray([(minx, miny), (maxx, miny), (maxx, maxy),
                       (minx, maxy), (minx, miny)])
    return geometry.wkb_polygon(ring)


def test_zonal_stats_matches_numpy(spark):
    """Distributed zonal stats over rect zones == whole-array numpy burn
    + masked reductions, including an overlapping zone pair and a zone
    off the grid."""
    fp = Footprint(tl=(0.0, 32.0), size=(48.0, 32.0), rsize=(48, 32))
    from buzzard_spark.kernels import raster as rk

    zones = [
        (0, 2.0, 3.0, 17.5, 21.0),
        (1, 10.0, 10.0, 30.0, 30.0),   # overlaps zone 0
        (2, -20.0, -20.0, -1.0, -1.0),  # fully off-grid
        (3, 40.0, 0.0, 48.0, 32.0),
    ]
    polys = spark.createDataFrame(
        [(z[0], bytearray(rect_wkb(*z[1:])), z[1], z[2], z[3], z[4])
         for z in zones],
        'region_id long, wkb binary, minlng double, minlat double, '
        'maxlng double, maxlat double')
    got = {r['region_id']: (r['n_pixels'], r['v_sum'], r['v_min'],
                            r['v_max'])
           for r in raster_ops.zonal_stats(spark, fp, polys,
                                           tile_size=16).collect()}
    ys = np.arange(32, dtype=np.int64)
    xs = np.arange(48, dtype=np.int64)
    vals = (17 * xs[None, :] + 31 * ys[:, None]) % 97
    want = {}
    for rid, minx, miny, maxx, maxy in zones:
        mask = rk.burn_polygons(fp, [rect_wkb(minx, miny, maxx, maxy)])
        if mask.any():
            mv = vals[mask]
            want[rid] = (int(mask.sum()), int(mv.sum()), int(mv.min()),
                         int(mv.max()))
    assert got == want
    assert 2 not in got


def test_zonal_stats_custom_value_fn(spark):
    """A caller-supplied band function is evaluated at GLOBAL pixel
    coords (tile offsets must not leak in)."""
    fp = Footprint(tl=(0.0, 16.0), size=(32.0, 16.0), rsize=(32, 16))
    polys = spark.createDataFrame(
        [(7, bytearray(rect_wkb(0.0, 0.0, 32.0, 16.0)),
          0.0, 0.0, 32.0, 16.0)],
        'region_id long, wkb binary, minlng double, minlat double, '
        'maxlng double, maxlat double')
    out = raster_ops.zonal_stats(
        spark, fp, polys,
        value_fn=lambda ys, xs: (1000 * ys[:, None]
                                 + xs[None, :]).astype(np.int64),
        tile_size=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r['n_pixels'] == 32 * 16
    assert r['v_min'] == 0 and r['v_max'] == 15 * 1000 + 31
    assert r['v_sum'] == sum(1000 * y + x
                             for y in range(16) for x in range(32))

