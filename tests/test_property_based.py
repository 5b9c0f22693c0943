"""Hypothesis property tests over the kernel core — coverage beyond the
ported truth tables."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import buzzard_spark as buzz
from buzzard_spark.kernels import cells, geometry
from tests import helpers

coord = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False)
pixsize = st.floats(min_value=1e-3, max_value=1e3, allow_nan=False)
rs = st.integers(min_value=1, max_value=500)


@settings(max_examples=200, deadline=None)
@given(tlx=coord, tly=coord, px=pixsize, rw=rs, rh=rs)
def test_spatial_raster_roundtrip(tlx, tly, px, rw, rh):
    fp = buzz.Footprint(tl=(tlx, tly), size=(px * rw, px * rh),
                        rsize=(rw, rh))
    # one digit of margin like the reference's own precision tests —
    # at the gate the abstract grid density legitimately quantizes to
    # whole pixels
    if buzz.env.significant <= fp._significant_min + 1:
        return
    # pixel centers map back to their own indices
    ix = np.arange(0, rw, max(1, rw // 13))
    iy = np.arange(0, rh, max(1, rh // 13))
    xs, ys = np.meshgrid(ix, iy)
    centers = fp.raster_to_spatial(np.dstack([xs + 0.5, ys + 0.5]))
    back = fp.spatial_to_raster(centers)
    assert (back[..., 0] == xs).all()
    assert (back[..., 1] == ys).all()


@settings(max_examples=200, deadline=None)
@given(tlx=coord, tly=coord, rw=rs, rh=rs,
       tsx=st.integers(1, 600), tsy=st.integers(1, 600))
def test_tile_shrink_partitions_exactly(tlx, tly, rw, rh, tsx, tsy):
    """shrink tiling is a partition: full coverage, no overlap."""
    fp = buzz.Footprint(tl=(tlx, tly), size=(rw, rh), rsize=(rw, rh))
    if tsx > rw or tsy > rh:
        return
    tiles = fp.tile((tsx, tsy), boundary_effect='shrink')
    cover = np.zeros(tuple(fp.shape), dtype=int)
    for t in tiles.flatten():
        cover[t.slice_in(fp)] += 1
    assert (cover == 1).all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=12))
def test_wkb_polygon_roundtrip_any_ring(pts):
    ring = np.asarray(pts, dtype=np.float64)
    buf = geometry.wkb_polygon(ring)
    kind, rings = geometry.wkb_decode(buf)
    assert kind == 'polygon'
    assert np.array_equal(rings[0][:-1], ring[:len(rings[0]) - 1])
    assert (rings[0][0] == rings[0][-1]).all()


@settings(max_examples=100, deadline=None)
@given(lat=st.floats(-89.9, 89.9), lng=st.floats(-180.0, 179.999),
       res=st.integers(0, 15))
def test_cell_center_maps_back(lat, lng, res):
    c = cells.cell_of(lat, lng, res)
    clat, clng = helpers.cell_center(c, res)
    assert cells.cell_of(clat, clng, res) == c
    # bounds containment up to one float ulp of the row/col arithmetic
    # (points exactly on a cell edge may round either way)
    minlng, minlat, maxlng, maxlat = cells.cell_bounds(c, res)
    eps = 1e-9 * max(1.0, abs(lat), abs(lng)) + 1e-12
    assert minlat - eps <= lat <= maxlat + eps
    assert minlng - eps <= lng <= maxlng + eps


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 2 ** 40), st.integers(0, 2 ** 40),
       st.integers(1, 6), st.integers(0, 24))
def test_ring_symmetry(a, b, k, res):
    """cell b in ring(a, k) ⇔ cell a in ring(b, k)."""
    nx, ny = cells.dims(res)
    ca = (a % ny) * nx + (b % nx)
    ring_a = set(cells.ring(ca, k, res).tolist())
    for cb in list(ring_a)[:5]:
        assert int(ca) in set(cells.ring(cb, k, res).tolist())


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.floats(0, 100), st.floats(0, 100)),
                min_size=3, max_size=10),
       st.floats(10, 60), st.floats(10, 60))
def test_clip_never_grows(pts, cw, ch):
    # Sutherland–Hodgman is specified for simple polygons: order the
    # sampled points by angle around their centroid (star-shaped ring)
    arr = np.asarray(pts, dtype=np.float64)
    cx, cy = arr[:, 0].mean(), arr[:, 1].mean()
    order = np.argsort(np.arctan2(arr[:, 1] - cy, arr[:, 0] - cx))
    pts = [tuple(p) for p in arr[order]]
    ring = np.asarray(pts + [pts[0]], dtype=np.float64)
    area_before = abs(geometry.ring_area(ring))
    out = geometry.clip_ring_rect(ring, 20.0, 20.0, 20.0 + cw, 20.0 + ch)
    if out is not None:
        assert abs(geometry.ring_area(out)) <= area_before + 1e-6
        assert out[:, 0].min() >= 20.0 - 1e-9
        assert out[:, 0].max() <= 20.0 + cw + 1e-9
