"""kNN cell-ring rounds vs single-node numpy brute force (F8 oracle),
plus cell-index kernel sanity."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType

from buzzard_spark import synth
from buzzard_spark.functions import sqlgen
from buzzard_spark.kernels import cells
from buzzard_spark.operators import knn as knn_ops
from buzzard_spark.operators import spatial_join
from tests import helpers


def test_cell_kernel_matches_sql(spark):
    """cells.cell_of (numpy) == cell_sql (Catalyst) on random points."""
    rng = np.random.RandomState(5)
    lat = rng.rand(500) * 170 - 85
    lng = rng.rand(500) * 360 - 180
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lng)],
        'lat double, lng double')
    got = np.asarray([r[0] for r in df.select(
        F.expr(sqlgen.cell_sql('lat', 'lng', 9))).collect()])
    truth = cells.cell_of(lat, lng, 9)
    assert (got == truth).all()


def test_cover_cells_rect_matches_kernel(spark):
    """spatial_join.cover_cells_rect (sequence()+explode in Catalyst) ==
    cells.cover_rect (numpy), cell set per region: 300 seeded rects plus
    the whole globe, a degenerate point, rects touching each pole and
    each side of ±180, and a cell-aligned rect. A cover too wide would
    change no join result (the refine is exact), so only this pins it."""
    rng = np.random.RandomState(11)
    lat0 = rng.rand(300) * 180 - 90
    lng0 = rng.rand(300) * 360 - 180
    rects = [(a, b, min(a + h, 90.0), min(b + w, 180.0)) for a, b, h, w in
             zip(lat0, lng0, rng.rand(300) * 12, rng.rand(300) * 24)]
    rects += [(-90.0, -180.0, 90.0, 180.0), (12.3, 45.6, 12.3, 45.6),
              (80.0, -10.0, 90.0, 10.0), (-90.0, 100.0, -70.0, 120.0),
              (-5.0, 170.0, 5.0, 180.0), (-5.0, -180.0, 5.0, -170.0),
              (0.0, 0.0, 45.0, 90.0)]
    regions = spark.createDataFrame(
        [(i, *map(float, r)) for i, r in enumerate(rects)],
        'region_id long, minlat double, minlng double, maxlat double, '
        'maxlng double')
    covers = None
    for res in (0, 2, 4, 7):
        c = spatial_join.cover_cells_rect(regions, res).select(
            F.lit(res).alias('res'), 'region_id', 'cell')
        covers = c if covers is None else covers.unionByName(c)
    got = covers.toPandas().sort_values(['res', 'region_id', 'cell'])
    for res in (0, 2, 4, 7):
        g = got[got['res'] == res]
        want = [np.sort(cells.cover_rect(*r, res)) for r in rects]
        have = np.split(g['cell'].to_numpy(), np.searchsorted(
            g['region_id'].to_numpy(), np.arange(1, len(rects))))
        bad = [rid for rid, (h, w) in enumerate(zip(have, want))
               if not np.array_equal(h, w)]
        assert not bad, (res, [rects[rid] for rid in bad[:5]])


def test_ring_contains_center_and_wraps():
    c = cells.cell_of(0.0, 179.9, 4)
    ring = cells.ring(c, 1, 4)
    assert int(c) in set(ring.tolist())
    assert len(ring) == 9  # wraps the antimeridian without loss
    # pole clipping
    c = cells.cell_of(89.9, 0.0, 4)
    ring = cells.ring(c, 1, 4)
    assert len(ring) == 6  # top row clipped


def test_parent_children_roundtrip():
    c = cells.cell_of(12.3, 45.6, 9)
    p = cells.parent(c, 9, 7)
    kids = cells.children(p, 7, 9)
    assert int(c) in set(kids.tolist())
    assert len(kids) == 16
    assert cells.parent(kids, 9, 7).tolist() == [int(p)] * 16


def test_cell_bounds_center():
    c = cells.cell_of(10.0, 20.0, 6)
    minlng, minlat, maxlng, maxlat = cells.cell_bounds(c, 6)
    assert minlng <= 20.0 < maxlng
    assert minlat <= 10.0 < maxlat
    clat, clng = helpers.cell_center(c, 6)
    assert minlat < clat < maxlat and minlng < clng < maxlng


def _queries(spark, kind, n_q):
    """A query batch: ``hashed`` spreads over the testdata's lat band;
    ``antimeridian`` sits within 0.05 deg of lng ±180; ``polar`` lies above
    85 deg, where no page is (the first ring finds too few: coarser
    rounds settle it)."""
    if kind == 'hashed':
        return spark.range(n_q).select(
            F.col('id').alias('qid'),
            F.expr(sqlgen.lat_sql('(id * 7919 + 13)')).alias('qlat'),
            F.expr(sqlgen.lng_sql('(id * 7919 + 13)')).alias('qlng'))
    rng = np.random.RandomState(11)
    lat = rng.uniform(-60.0, 60.0, n_q)
    lng = rng.uniform(-180.0, 180.0, n_q)
    sign = rng.choice([-1.0, 1.0], n_q)
    if kind == 'antimeridian':
        lng = sign * rng.uniform(179.95, 180.0, n_q)
    elif kind == 'polar':
        lat = sign * rng.uniform(85.5, 89.99, n_q)
    return spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lng))],
        'qid long, qlat double, qlng double')


def _pages(spark, n_pages, duplicated=False):
    pages = synth.synthetic_pages(spark, n_pages).select(
        'page_id', 'lat', 'lng')
    if duplicated:
        # every third page again under a new id: equal dist2 at every
        # query, so the (dist2, page_id) order decides the ranks
        pages = pages.unionByName(
            pages.where(F.col('page_id') % 3 == 0)
            .withColumn('page_id', F.col('page_id') + n_pages))
    return pages


def _assert_bruteforce(got_rows, pages, queries, k):
    """``got_rows`` equal numpy brute force: per query the k nearest pages
    by (dist2, page_id), ranked 1..k."""
    got = {(r['qid'], r['rnk']): r['page_id'] for r in got_rows}
    p = np.asarray(pages.orderBy('page_id').collect())
    q = np.asarray(queries.orderBy('qid').collect())
    for qi in range(len(q)):
        d2 = (p[:, 1] - q[qi, 1]) ** 2 + (p[:, 2] - q[qi, 2]) ** 2
        order = np.lexsort((p[:, 0], d2))[:k]
        for rnk, idx in enumerate(order, 1):
            assert got[(q[qi, 0], rnk)] == p[idx, 0], (qi, rnk)
    assert len(got) == len(q) * k


@pytest.mark.parametrize('n_pages, n_q, k, res, k_ring, kind', [
    # dense: ring path settles most queries
    pytest.param(3000, 25, 10, 4, 2, 'hashed', id='3000-25-10-4-2'),
    # sparse: most queries take coarser rounds
    pytest.param(200, 15, 8, 6, 1, 'hashed', id='200-15-8-6-1'),
    # sparse at a fine resolution: rounds coarsen down to res 0
    pytest.param(200, 6, 8, 9, 1, 'hashed', id='sparse-res-9'),
    # ring 0 settles nothing (its guarantee is 0): the radius must grow
    # at res 0 for the loop to end
    pytest.param(300, 6, 5, 2, 0, 'hashed', id='ring-0'),
    # the ring wraps across lng ±180
    pytest.param(3000, 12, 6, 3, 2, 'antimeridian', id='antimeridian'),
    # above every page: every query takes coarser rounds
    pytest.param(3000, 6, 6, 4, 1, 'polar', id='polar'),
    # res 0, ring 5: the ring covers the whole 8x4 grid (settled by
    # construction, no guarantee check)
    pytest.param(300, 10, 6, 0, 5, 'hashed', id='ring-covers-grid'),
    # duplicated page coordinates: ties ordered by page_id
    pytest.param(600, 15, 8, 1, 1, 'duplicated', id='duplicate-coords'),
])
def test_knn_matches_bruteforce(spark, n_pages, n_q, k, res, k_ring, kind):
    pages = _pages(spark, n_pages, duplicated=kind == 'duplicated')
    queries = _queries(spark, kind, n_q)
    out = knn_ops.knn(pages, queries, k, res, k_ring)
    _assert_bruteforce(out.collect(), pages, queries, k)
    assert [(f.name, f.dataType) for f in out.schema] == [
        ('qid', queries.schema['qid'].dataType),
        ('page_id', pages.schema['page_id'].dataType),
        ('dist2', DoubleType()), ('rnk', IntegerType())]


def test_knn_keeps_input_key_types(spark):
    """qid and page_id keep their input types (string, int here), rnk
    stays int."""
    pages = _pages(spark, 400).withColumn('page_id',
                                          F.col('page_id').cast('int'))
    queries = _queries(spark, 'hashed', 12).withColumn(
        'qid', F.concat(F.lit('q'), F.col('qid').cast('string')))
    out = knn_ops.knn(pages, queries, 5, 4, k_ring=1)
    assert [(f.name, f.dataType) for f in out.schema] == [
        ('qid', StringType()), ('page_id', IntegerType()),
        ('dist2', DoubleType()), ('rnk', IntegerType())]
    assert out.count() == 12 * 5


def test_knn_null_coordinate_query_returns_no_rows(spark):
    """A query with a NULL lat or lng returns no row, as a page with one
    joins no cell; the other queries of its batch are served."""
    pages = _pages(spark, 300)
    queries = spark.createDataFrame(
        [(0, None, 10.0), (1, 12.5, 40.0), (2, -30.0, None),
         (3, None, None), (4, -5.0, -120.0)],
        'qid long, qlat double, qlng double')
    out = knn_ops.knn(pages, queries, 4, 3, k_ring=1)
    _assert_bruteforce(out.collect(), pages, queries.dropna(), 4)


def test_knn_rounds_bound_ring_and_count(spark, monkeypatch):
    """A sparse query set at a fine resolution: every round's ring side
    holds at most max((2·k_ring+1)², 32) cells per query, and there are
    at most res + 5 rounds."""
    n_pages, n_q, k, res, k_ring = 200, 6, 8, 9, 1
    rounds = []
    driver_rings = knn_ops.driver_rings

    def spy(*args):
        rings = driver_rings(*args)
        rounds.append(int(rings.toPandas()['qid'].value_counts().max()))
        return rings

    monkeypatch.setattr(knn_ops, 'driver_rings', spy)
    pages = _pages(spark, n_pages)
    queries = _queries(spark, 'hashed', n_q)
    out = knn_ops.knn(pages, queries, k, res, k_ring)
    _assert_bruteforce(out.collect(), pages, queries, k)
    assert 1 < len(rounds) <= res + 5, rounds
    assert max(rounds) <= max((2 * k_ring + 1) ** 2, 32), rounds


def test_knn_rejects_batch_over_cap(spark, monkeypatch):
    """A batch above ``MAX_QUERIES`` raises instead of being served; a
    batch at the cap runs."""
    monkeypatch.setattr(knn_ops, 'MAX_QUERIES', 5)
    pages = _pages(spark, 200)
    with pytest.raises(ValueError, match='MAX_QUERIES=5'):
        knn_ops.knn(pages, _queries(spark, 'hashed', 6), 3, 4, k_ring=1)
    queries = _queries(spark, 'hashed', 5)
    out = knn_ops.knn(pages, queries, 3, 4, k_ring=1)
    _assert_bruteforce(out.collect(), pages, queries, 3)


@pytest.mark.parametrize('res, k_ring', [
    (4, 1),
    (2, 3),
    (0, 4),     # 2·k_ring + 1 > nx: the lng wrap would repeat cells
    (0, 5),     # covers the whole grid
])
def test_driver_rings_match_ring_cells(spark, res, k_ring):
    """cells.ring on the driver (the ring side) and
    ring_cells in SQL give the same cell set per query: at the poles,
    at the antimeridian, on the clamped grid edges, and when the ring is
    wider than the grid."""
    pts = [(90.0, 0.0), (-90.0, 12.5), (89.99, 179.99), (-89.99, -180.0),
           (0.0, 180.0), (0.0, -180.0), (45.3, 179.97), (-12.0, -179.96),
           (33.3, 44.4), (-60.1, 100.2)]
    queries = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pts)],
        'qid long, qlat double, qlng double')
    driver = knn_ops.driver_rings(spark, queries.toPandas(), queries.schema,
                                  res, k_ring)
    sql = knn_ops.ring_cells(queries, res, k_ring)

    def cell_sets(df):
        out: dict = {}
        for r in df.select('qid', 'cell').collect():
            out.setdefault(r['qid'], []).append(r['cell'])
        return out

    got, want = cell_sets(driver), cell_sets(sql)
    assert got.keys() == want.keys() == set(range(len(pts)))
    for qid, cs in got.items():
        assert len(cs) == len(set(cs)), qid       # no repeated cell
        assert set(cs) == set(want[qid]), qid


def test_assign_cell_null_coords_drop_from_join(spark):
    """NULL lat/lng rows must vanish through the cell equi-join (inner-join
    null semantics), not be seated at a valid cell (ADVICE r3: the round-3
    coalesce(expr, 0) silently mapped them to cell 0)."""
    pages = spark.createDataFrame(
        [(1, 89.9, -179.9), (2, None, 10.0), (3, 10.0, None)],
        'page_id long, lat double, lng double')
    cells_df = spatial_join.assign_cell(pages, 4)
    vals = {r['page_id']: r['cell'] for r in cells_df.collect()}
    assert vals[1] == 0          # the real cell 0 (north-west corner)
    assert vals[2] == -1 and vals[3] == -1
    regions = synth.regions(spark, 50)
    joined = spatial_join.pip_join_rect(pages, regions, 4)
    assert joined.where(F.col('page_id').isin(2, 3)).count() == 0
