"""Rasterize / polygonize round-trip — ported from the reference's ASCII
truth grid (buzzard/test/test_footprint_findburn_polygons.py). shapely-free:
the find test checks mask round-trip + exact area instead of symmetric
difference (equivalent for pixel-aligned polygons).
"""

import numpy as np
import numpy.random as npr
import pytest

from buzzard_spark import Footprint
from buzzard_spark.kernels import geometry, raster

_RANDOM_ORDERING_COUNT = 50

_GRID = """---------------------
---------a-----------
--000000000000000----
--0f--b--------g0----
--0-11111-22222-03---
--0-1---1-2-i-2-0-44-
-90-1-j-1-2-k-2-0-44-
--0-1l--1-2---2c0----
--0-11111d22222-05---
--0e-----------h0----
--000000000000000mmm-
--nnnn--88--6----m-m-
--n--n--88---7---mmm-
--n--n--88-----------
--nnnn------oooo-----
------------o--o-----
------------oooo-----
---------------------"""


@pytest.fixture(scope='module')
def chars_grid():
    return np.asarray([list(line) for line in _GRID.split('\n')])


def _corners_ring(fp):
    return np.asarray([fp.tl, fp.bl, fp.br, fp.tr, fp.tl])


@pytest.fixture(scope='module')
def geometries(chars_grid):
    chars_set = {c for c in _GRID if c not in ['\n', '-']}

    def fp_of_char(c):
        ys, xs = np.where(chars_grid == c)
        minx, maxx = xs.min(), xs.max()
        miny, maxy = ys.min(), ys.max()
        rsize = maxx - minx + 1, maxy - miny + 1
        return Footprint(tl=(minx, -miny), rsize=rsize, size=rsize)

    def rings_of_fp(fp):
        if fp.rarea != fp.rlength:
            return [_corners_ring(fp), _corners_ring(fp.erode(1))]
        return [_corners_ring(fp)]

    return [rings_of_fp(fp_of_char(c)) for c in sorted(chars_set)]


@pytest.fixture(scope='module')
def truth(chars_grid):
    return chars_grid != '-'


@pytest.fixture(scope='module')
def fullfp(truth):
    rsize = np.flipud(truth.shape)
    return Footprint(tl=(0, 0), rsize=rsize, size=rsize)


def seeds():
    rng = npr.RandomState(42)
    return list(rng.randint(0, 10000, _RANDOM_ORDERING_COUNT))


@pytest.mark.parametrize('seed', seeds())
def test_burn(fullfp, geometries, truth, seed):
    geoms = list(geometries)
    npr.RandomState(seed).shuffle(geoms)
    res = raster.burn_polygons(fullfp, geoms)
    assert (res == truth).all()


def test_burn_wkb(fullfp, geometries, truth):
    wkbs = [geometry.wkb_polygon(g[0], g[1:]) for g in geometries]
    res = raster.burn_polygons(fullfp, wkbs)
    assert (res == truth).all()


def test_find_roundtrip(fullfp, truth):
    polys = raster.find_polygons(fullfp, truth)
    # 1. exact area: total polygon area == burned pixel count
    total_area = sum(geometry.polygon_area(rings) for rings in polys)
    assert total_area == pytest.approx(float(truth.sum()))
    # 2. burning the found polygons reproduces the mask bit-for-bit
    res = raster.burn_polygons(fullfp, polys)
    assert (res == truth).all()
    # 3. holes preserved: the grid has ring shapes -> some polygon has holes
    assert any(len(rings) > 1 for rings in polys)


def test_find_labelize_count(fullfp, truth):
    polys = raster.find_polygons(fullfp, truth)
    labels, n = raster._label_components(truth)
    assert len(polys) == n


def test_burn_labelize(fullfp):
    r1 = [np.asarray([(1., 0.), (5., 0.), (5., -4.), (1., -4.), (1., 0.)])]
    r2 = [np.asarray([(8., 0.), (12., 0.), (12., -4.), (8., -4.), (8., 0.)])]
    out = raster.burn_polygons(fullfp, [r1, r2], labelize=True)
    assert out.dtype == np.uint8
    assert set(np.unique(out)) == {0, 1, 2}
    assert out[2, 2] == 1 and out[2, 9] == 2


def _burn_rings_centers_rowwise(out, rings_px, value):
    """Reference: the one-scanline-at-a-time form of
    ``raster._burn_rings_centers`` (sorted crossings per row, then a
    ``searchsorted`` of the pixel centers into them)."""
    h, w = out.shape
    x1 = np.concatenate([r[:-1, 0] for r in rings_px])
    y1 = np.concatenate([r[:-1, 1] for r in rings_px])
    x2 = np.concatenate([r[1:, 0] for r in rings_px])
    y2 = np.concatenate([r[1:, 1] for r in rings_px])
    keep = y1 != y2
    x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
    if len(x1) == 0:
        return
    for iy, cy in enumerate(np.arange(h) + 0.5):
        straddle = (y1 > cy) != (y2 > cy)
        if not straddle.any():
            continue
        xc = x1[straddle] + (cy - y1[straddle]) * \
            (x2[straddle] - x1[straddle]) / (y2[straddle] - y1[straddle])
        xc.sort()
        idx = np.searchsorted(xc, np.arange(w) + 0.5, side='left')
        out[iy, (idx % 2) == 1] = value


def _random_ring(rng, h, w):
    """Closed ring in pixel space, partly past the tile: integer,
    half-integer (pixel-center ties) or float vertices, with some
    horizontal edges."""
    n = int(rng.integers(3, 9))
    kind = rng.integers(3)
    if kind == 0:
        xs = rng.integers(-3, w + 4, n).astype(float)
        ys = rng.integers(-3, h + 4, n).astype(float)
    elif kind == 1:
        xs = rng.integers(-6, 2 * w + 8, n) / 2.0
        ys = rng.integers(-6, 2 * h + 8, n) / 2.0
    else:
        xs = rng.uniform(-3, w + 3, n)
        ys = rng.uniform(-3, h + 3, n)
    flat = rng.random(n) < 0.3
    ys[1:][flat[1:]] = ys[:-1][flat[1:]]
    ring = np.column_stack([xs, ys])
    return np.vstack([ring, ring[:1]])


@pytest.mark.parametrize('block', [raster._BURN_BLOCK, 40],
                         ids=['one-block', 'row-blocks'])
def test_burn_vectorized_matches_rowwise(monkeypatch, block):
    """Seeded property check: the all-scanlines burn is bit-identical to
    the row-by-row scanline, labelize order included (later polygons
    overwrite earlier ones), over ≥2000 rings; also when its rows go in
    many small blocks."""
    monkeypatch.setattr(raster, '_BURN_BLOCK', block)
    rng = np.random.default_rng(20230618)
    n_rings = 0
    for _ in range(700):
        h, w = int(rng.integers(1, 33)), int(rng.integers(1, 33))
        got = np.zeros((h, w), np.uint8)
        want = np.zeros((h, w), np.uint8)
        for value in range(1, int(rng.integers(1, 4)) + 1):
            # several rings per polygon: even-odd holes across rings
            rings = [_random_ring(rng, h, w)
                     for _ in range(int(rng.integers(1, 4)))]
            n_rings += len(rings)
            raster._burn_rings_centers(got, rings, value)
            _burn_rings_centers_rowwise(want, rings, value)
        assert np.array_equal(got, want), (h, w)
    assert n_rings >= 2000


def test_slopes_flat_and_ramp():
    fp = Footprint(tl=(0, 10), size=(10, 10), rsize=(10, 10))
    flat = np.full((10, 10), 7.0)
    assert (raster.slopes(fp, flat) == 0).all()
    xramp = np.tile(np.arange(10, dtype='float64'), (10, 1))
    s = raster.slopes(fp, xramp, crop=True)
    assert s.shape == (8, 8)
    assert np.allclose(s, 45.0)


def test_burn_find_lines_roundtrip():
    fp = Footprint(tl=(0, 20), size=(20, 20), rsize=(20, 20))
    line = np.asarray([(2.5, 17.5), (12.5, 17.5), (12.5, 5.5)])
    mask = raster.burn_lines(fp, [line])
    assert mask.any()
    # reference chain thins first (buzzard/_footprint.py:1631): the burned
    # L-corner pixel is removed by thinning, so the roundtrip reproduces
    # the THINNED mask (reference behavior), not the raw burn
    lines = raster.find_lines(fp, mask)
    mask2 = raster.burn_lines(fp, lines)
    assert (mask2 == raster.thin(mask)).all()
    # on a thin-stable mask the roundtrip is exact
    straight = np.asarray([(2.5, 17.5), (12.5, 17.5)])
    m3 = raster.burn_lines(fp, [straight])
    assert (raster.thin(m3) == m3).all()
    assert (raster.burn_lines(fp, raster.find_lines(fp, m3)) == m3).all()


def test_thin_properties():
    """kernels.raster.thin — the reference's skm.thin preprocessing
    (Lam-Lee-Suen two-subiteration thinning): width-1 output (no 2x2
    block), idempotent, endpoint/connectivity preserving, and blob masks
    reduce to a skeleton."""
    rng = np.random.RandomState(7)
    for trial in range(20):
        m = np.zeros((24, 31), bool)
        # random rectangles + random walk strokes
        for _ in range(3):
            y, x = rng.randint(0, 18), rng.randint(0, 24)
            m[y:y + rng.randint(2, 7), x:x + rng.randint(2, 8)] = True
        y, x = rng.randint(0, 24), rng.randint(0, 31)
        for _ in range(40):
            m[y, x] = True
            y = min(23, max(0, y + rng.randint(-1, 2)))
            x = min(30, max(0, x + rng.randint(-1, 2)))
        t = raster.thin(m)
        # idempotent
        assert (raster.thin(t) == t).all()
        # 8-connected component count preserved
        assert _n_components8(t) == _n_components8(m)
        # skeleton is a subset of the original mask
        assert not (t & ~m).any()
    # blob → thin skeleton, far fewer pixels
    blob = np.zeros((16, 20), bool)
    blob[3:13, 4:16] = True
    t = raster.thin(blob)
    assert 0 < t.sum() <= 14


def test_square_collapse_in_find_lines():
    """Rare 2×2 squares DO survive thinning (which is why the reference
    keeps its square collapse after skm.thin): find_lines must collapse
    them to the top-left pixel — intra-square segments dropped, incident
    segments extended (reference steps 3/6, buzzard/_footprint.py:1638+)."""
    fp = Footprint(tl=(0, 8), size=(8, 8), rsize=(8, 8))
    # thin-stable mask containing a 2x2 square with arms
    m = np.zeros((8, 8), bool)
    m[3, 1] = m[3, 2] = True            # west arm
    m[3:5, 3:5] = True                  # the 2x2 square (thin-stable here?)
    m[3, 5] = m[3, 6] = True            # east arm
    t = raster.thin(m)
    if (t[3:5, 3:5].all()):             # square survived thinning
        lines = raster.find_lines(fp, m)
        pts = {tuple(p) for line in lines for p in np.asarray(line).tolist()}
        # the non-topleft square corners never appear as vertices
        a, b, c, d, e_, f_ = fp._coef
        for (px, py) in ((4, 3), (3, 4), (4, 4)):
            w = (px + .5) * a + (py + .5) * b + c, \
                (px + .5) * d + (py + .5) * e_ + f_
            assert tuple(w) not in pts
    # regardless of survival, links map is the reference's row-major
    # last-wins rule
    sq = np.zeros((4, 4), bool)
    sq[1:3, 1:3] = True
    links = raster.square_links(sq)
    assert links == {(1, 1): (1, 1), (2, 1): (1, 1),
                     (1, 2): (1, 1), (2, 2): (1, 1)}
    # overlapping squares: last (row-major) top-left wins
    sq2 = np.zeros((4, 5), bool)
    sq2[1:3, 1:4] = True
    links2 = raster.square_links(sq2)
    assert links2[(2, 1)] == (2, 1) and links2[(2, 2)] == (2, 1)
    assert links2[(1, 1)] == (1, 1)


def _n_components8(mask):
    """8-connected component count (tiny BFS — test helper only)."""
    seen = np.zeros_like(mask, bool)
    n = 0
    H, W = mask.shape
    for sy, sx in zip(*np.nonzero(mask)):
        if seen[sy, sx]:
            continue
        n += 1
        stack = [(sy, sx)]
        seen[sy, sx] = True
        while stack:
            y, x = stack.pop()
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < H and 0 <= xx < W and mask[yy, xx] \
                            and not seen[yy, xx]:
                        seen[yy, xx] = True
                        stack.append((yy, xx))
    return n
