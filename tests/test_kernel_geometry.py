"""Geometry kernel tests: WKB round-trip, ray-casting PIP vs brute truth."""

import numpy as np
import pytest

from buzzard_spark.kernels import geometry as G
from tests import helpers


def test_wkb_point_roundtrip():
    buf = G.wkb_point(1.5, -2.25)
    kind, (x, y) = G.wkb_decode(buf)
    assert kind == 'point' and x == 1.5 and y == -2.25


def test_wkb_polygon_roundtrip_with_hole():
    ext = [(0, 0), (10, 0), (10, 10), (0, 10)]
    hole = [(4, 4), (6, 4), (6, 6), (4, 6)]
    buf = G.wkb_polygon(ext, [hole])
    kind, rings = G.wkb_decode(buf)
    assert kind == 'polygon' and len(rings) == 2
    assert (rings[0][0] == rings[0][-1]).all()  # closed
    assert len(rings[0]) == 5 and len(rings[1]) == 5
    assert helpers.wkb_bbox(buf) == (0.0, 0.0, 10.0, 10.0)


def test_wkb_multipolygon_roundtrip():
    p1 = (np.asarray([(0., 0.), (1., 0.), (1., 1.), (0., 1.)]), [])
    p2 = (np.asarray([(5., 5.), (6., 5.), (6., 6.), (5., 6.)]), [])
    buf = G.wkb_multipolygon([p1, p2])
    kind, parts = G.wkb_decode(buf)
    assert kind == 'multipolygon' and len(parts) == 2


def test_pip_square():
    ring = np.asarray([(0., 0.), (10., 0.), (10., 10.), (0., 10.), (0., 0.)])
    px = np.asarray([5., 15., -1., 9.99, 0.5])
    py = np.asarray([5., 5., 5., 0.01, 9.5])
    assert G.points_in_ring(px, py, ring).tolist() == [True, False, False, True, True]


def test_pip_with_hole():
    ext = np.asarray([(0., 0.), (10., 0.), (10., 10.), (0., 10.), (0., 0.)])
    hole = np.asarray([(4., 4.), (6., 4.), (6., 6.), (4., 6.), (4., 4.)])
    px = np.asarray([5., 3., 6.5])
    py = np.asarray([5., 3., 5.])
    assert G.points_in_polygon(px, py, [ext, hole]).tolist() == [False, True, True]


def test_pip_vs_matplotlib_free_truth():
    """Random convex polygon: PIP must agree with half-plane truth."""
    rng = np.random.RandomState(7)
    ang = np.sort(rng.rand(7) * 2 * np.pi)
    ring = np.column_stack([np.cos(ang), np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])
    px = rng.rand(2000) * 2.4 - 1.2
    py = rng.rand(2000) * 2.4 - 1.2
    got = G.points_in_ring(px, py, ring)
    # convex half-plane truth (CCW)
    truth = np.ones(len(px), dtype=bool)
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        truth &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= 0
    # disagreement only possible exactly on edges — none for random doubles
    assert (got == truth).all()


def test_pip_multipolygon():
    p1 = (np.asarray([(0., 0.), (1., 0.), (1., 1.), (0., 1.)]), [])
    p2 = (np.asarray([(5., 5.), (6., 5.), (6., 6.), (5., 6.)]), [])
    buf = G.wkb_multipolygon([p1, p2])
    px = np.asarray([0.5, 5.5, 3.0])
    py = np.asarray([0.5, 5.5, 3.0])
    assert G.points_in_wkb(px, py, buf).tolist() == [True, True, False]


def test_area():
    ext = np.asarray([(0., 0.), (10., 0.), (10., 10.), (0., 10.), (0., 0.)])
    hole = np.asarray([(4., 4.), (6., 4.), (6., 6.), (4., 6.), (4., 4.)])
    assert G.polygon_area([ext, hole]) == pytest.approx(96.0)
