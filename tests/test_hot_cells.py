"""Hot cells: most pages in one join cell, or one region whose cover holds
most cells of the grid. The cover join broadcasts the cover and streams
the pages, so a hot cell is no skew (operators/spatial_join.py); these
cases pin that the joins and kNN stay exact there, against numpy brute
force and the geometry kernel."""

import numpy as np
import pytest

from buzzard_spark.kernels import cells, geometry
from buzzard_spark.operators import knn as knn_ops
from buzzard_spark.operators import spatial_join
from tests.test_spark_knn import _assert_bruteforce

RES = 4
HOT = cells.cell_of(12.3, 45.6, RES)      # the cell most pages fall in
N_PAGES = 3000
HOT_FRAC = 0.9


def _hot_points(rng, n):
    """n points strictly inside the hot cell, as (lat, lng) arrays."""
    minlng, minlat, maxlng, maxlat = cells.cell_bounds(HOT, RES)
    u, v = rng.uniform(0.001, 0.999, (2, n))
    return minlat + u * (maxlat - minlat), minlng + v * (maxlng - minlng)


@pytest.fixture(scope='module')
def hot_pages(spark):
    """(page_id, lat, lng) arrays and frame: 90% of the pages in one cell,
    the rest spread over the globe."""
    rng = np.random.RandomState(3)
    n_hot = int(N_PAGES * HOT_FRAC)
    hlat, hlng = _hot_points(rng, n_hot)
    lat = np.r_[hlat, rng.uniform(-80.0, 80.0, N_PAGES - n_hot)]
    lng = np.r_[hlng, rng.uniform(-180.0, 180.0, N_PAGES - n_hot)]
    ids = np.arange(N_PAGES, dtype=np.int64)
    assert (cells.cell_of(lat, lng, RES) == HOT).mean() >= HOT_FRAC
    df = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(ids, lat, lng)],
        'page_id long, lat double, lng double')
    return ids, lat, lng, df


def _hot_rects():
    """(minlat, minlng, maxlat, maxlng): part of the hot cell, the hot cell
    and its neighbours, a rect elsewhere, and a rect whose cover holds
    most cells of the grid."""
    minlng, minlat, maxlng, maxlat = cells.cell_bounds(HOT, RES)
    w, h = maxlng - minlng, maxlat - minlat
    return [(minlat + 0.2 * h, minlng + 0.3 * w, minlat + 0.7 * h,
             minlng + 0.9 * w),
            (minlat - h, minlng - w, maxlat + h, maxlng + w),
            (-40.0, -120.0, -20.0, -90.0),
            (-80.0, -170.0, 80.0, 170.0)]


def test_hot_rect_covers_most_cells():
    """The last rect of ``_hot_rects`` is the wide-cover case."""
    nx, ny = cells.dims(RES)
    assert len(cells.cover_rect(*_hot_rects()[-1], RES)) > nx * ny // 2


def _pairs(df):
    return sorted((r['page_id'], r['region_id'])
                  for r in df.select('page_id', 'region_id').collect())


def test_pip_join_rect_hot_cell(spark, hot_pages):
    ids, lat, lng, pages = hot_pages
    rects = _hot_rects()
    regions = spark.createDataFrame(
        [(rid, *map(float, r)) for rid, r in enumerate(rects)],
        'region_id long, minlat double, minlng double, maxlat double, '
        'maxlng double')
    want = sorted((int(i), rid) for rid, (a, b, c, d) in enumerate(rects)
                  for i in ids[(lat >= a) & (lat <= c) &
                               (lng >= b) & (lng <= d)])
    assert _pairs(spatial_join.pip_join_rect(pages, regions, RES)) == want
    # most matches come from the hot cell
    in_hot = cells.cell_of(lat, lng, RES) == HOT
    assert sum(in_hot[i] for i, _ in want) > len(want) // 2


def _pentagon(clat, clng, r):
    t = np.linspace(0.0, 2 * np.pi, 6)[:5] + 0.3
    ring = np.column_stack([clng + r * np.cos(t), clat + 0.8 * r * np.sin(t)])
    return np.vstack([ring, ring[:1]])


def test_pip_join_wkb_hot_cell(spark, hot_pages):
    """Pentagons inside the hot cell, one over it and its neighbours, and
    a diamond whose bbox cover holds most cells: == bbox filter + the
    geometry kernel's point-in-polygon."""
    ids, lat, lng, pages = hot_pages
    minlng, minlat, maxlng, maxlat = cells.cell_bounds(HOT, RES)
    clat, clng = (minlat + maxlat) / 2, (minlng + maxlng) / 2
    w = maxlng - minlng
    rings = [_pentagon(clat, clng, 0.2 * w),
             _pentagon(clat + 0.1 * w, clng - 0.15 * w, 0.25 * w),
             _pentagon(clat, clng, 1.5 * w),
             np.asarray([(0.0, -80.0), (170.0, 0.0), (0.0, 80.0),
                         (-170.0, 0.0), (0.0, -80.0)])]
    rows = [(rid, bytearray(geometry.wkb_polygon(ring)),
             float(ring[:, 1].min()), float(ring[:, 0].min()),
             float(ring[:, 1].max()), float(ring[:, 0].max()))
            for rid, ring in enumerate(rings)]
    regions = spark.createDataFrame(
        rows, 'region_id long, wkb binary, minlat double, minlng double, '
              'maxlat double, maxlng double')
    want = []
    for rid, wkb, a, b, c, d in rows:
        sel = (lat >= a) & (lat <= c) & (lng >= b) & (lng <= d)
        inside = geometry.points_in_wkb(lng[sel], lat[sel], bytes(wkb))
        want += [(int(i), rid) for i in ids[sel][inside]]
    assert _pairs(spatial_join.pip_join_wkb(pages, regions, RES)) == \
        sorted(want)
    in_hot = cells.cell_of(lat, lng, RES) == HOT
    assert sum(in_hot[i] for i, rid in want if rid < 3) > N_PAGES // 4


def test_knn_hot_cell(spark, hot_pages):
    """Queries inside the hot cell and next to it: the first ring holds
    most of the pages, and the answer is numpy brute force's."""
    *_, pages = hot_pages
    rng = np.random.RandomState(8)
    qlat, qlng = _hot_points(rng, 6)
    minlng, minlat, maxlng, maxlat = cells.cell_bounds(HOT, RES)
    qlat = np.r_[qlat, (minlat + maxlat) / 2, maxlat + 0.1]
    qlng = np.r_[qlng, maxlng + 0.1, (minlng + maxlng) / 2]
    queries = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(qlat, qlng))],
        'qid long, qlat double, qlng double')
    out = knn_ops.knn(pages, queries, 10, RES, k_ring=1)
    _assert_bruteforce(out.collect(), pages, queries, 10)
