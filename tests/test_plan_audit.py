"""Physical-plan audits — the scale-readiness gates:

- parquet scans under a bbox predicate must show PushedFilters (row-group
  pruning — the engine's ReadAsArray-window pushdown),
- column pruning must reach the scan (ReadSchema),
- the region cover join must be a broadcast hash join,
- the cell-assignment path must stay inside WholeStageCodegen with no
  Python UDF (BatchEvalPython/ArrowEvalPython) nodes,
- a small kNN batch broadcasts its ring side to the pages and returns a
  local relation, persisting nothing and setting no checkpoint dir, and
  so do polygonize and vectorize_lines,
- Python workers come from the engine daemon, so a task's
  importlib.invalidate_caches() re-reads no unchanged zip archive,
- rasterize and zonal_stats map over the tile ids with no join or
  shuffle below the map; polygonize's Python stages are Arrow-native and
  receive only their kernel's columns; run labeling maps the tile rows
  without a shuffle,
- polygonize and vectorize_lines join their driver-stitched labels as a
  broadcast local relation, with no sort-merge or nested-loop join.
"""

import re
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from buzzard_spark import synth
from buzzard_spark.operators import spatial_join


@pytest.fixture(scope='module')
def pages_parquet(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp('pages_pq'))
    synth.synthetic_pages(spark, 20_000).write.mode('overwrite').parquet(out)
    return out


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df):
    return df._jdf.queryExecution().explainString(
        spark_jexplain_mode(df.sparkSession, 'formatted'))


def spark_jexplain_mode(spark, mode):
    jvm = spark.sparkSession._jvm if hasattr(spark, 'sparkSession') else spark._jvm
    return jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)


def test_bbox_filter_pushdown(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    q = df.where((F.col('lat') > 10.0) & (F.col('lat') < 20.0) &
                 (F.col('lng') > -30.0)).select('page_id')
    plan = _formatted(q)
    assert 'PushedFilters' in plan
    assert 'GreaterThan(lat,10.0)' in plan
    # column pruning reached the scan
    assert 'ReadSchema' in plan
    read_schema = [l for l in plan.splitlines() if 'ReadSchema' in l][0]
    assert 'text' not in read_schema and 'html' not in read_schema


def test_pip_join_is_broadcast_and_codegen(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    regions = synth.regions(spark, 100)
    q = spatial_join.pip_count_by_region(pages, regions, 4)
    q.collect()  # finalize the AQE plan
    plan = _plan(q)
    assert 'BroadcastHashJoin' in plan
    assert 'SortMergeJoin' not in plan
    assert 'BatchEvalPython' not in plan
    assert 'ArrowEvalPython' not in plan
    assert '*(' in plan  # whole-stage-codegen stage markers
    # partial aggregation (map-side combine) before the shuffle
    assert plan.count('HashAggregate') >= 2


def test_sliced_scan_no_single_partition_exchange(spark):
    """A bounded slice must not funnel the scan through one task: no
    global (partition-less) window, no SinglePartition exchange; result
    identical to the naive ordered slice."""
    from buzzard_spark.operators import vector_source

    feats = synth.features(spark, 400)
    out = vector_source.scan_features(
        feats, fields=['volume'], mask=(-60.0, -40.0, 60.0, 40.0),
        slicing=slice(5, 105))
    plan = _plan(out)
    assert 'SinglePartition' not in plan
    got = sorted(r['fid'] for r in out.collect())
    naive = (vector_source.scan_features(
        feats, fields=['volume'], mask=(-60.0, -40.0, 60.0, 40.0))
        .orderBy('fid').collect())[5:105]
    assert got == sorted(r['fid'] for r in naive)


def test_tile_sql_is_round_free():
    """Regression guard for the round-2 JIT cliff: Spark's ROUND on doubles
    allocates a BigDecimal per call and pushed the flagship's generated
    method past the JVM JIT limit (whole stage fell back to the bytecode
    interpreter, ~10x slower). The abstract-grid snap must stay pure
    FLOOR arithmetic."""
    from buzzard_spark.functions import sqlgen
    from buzzard_spark.kernels.footprint import Footprint

    fp = Footprint(tl=(-180.0, 90.0), size=(360.0, 180.0), rsize=(512, 256))
    tx, ty = sqlgen.tile_xy_sql('lat', 'lng', fp)
    assert 'ROUND' not in tx.upper() and 'ROUND' not in ty.upper()


def test_cell_assign_no_python(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    q = spatial_join.assign_cell(pages, 9).groupBy('cell').count()
    q.collect()
    plan = _plan(q)
    assert 'Python' not in plan
    assert '*(' in plan  # whole-stage-codegen stage markers


def test_knn_small_batch_plan(spark, monkeypatch):
    """Small-batch kNN: every round's ring join is a broadcast hash join
    with no hash exchange of the pages on ``cell`` — also the coarser
    rounds of a batch holding a polar query; the call leaves no persisted
    RDD and sets no checkpoint dir; the result is a local relation."""
    from buzzard_spark.operators import knn

    pages = synth.synthetic_pages(spark, 20_000).select(
        'page_id', 'lat', 'lng')
    queries = spark.createDataFrame(
        [(i, -40.0 + 10.0 * i, -170.0 + 45.0 * i) for i in range(8)],
        'qid long, qlat double, qlng double')
    polar = queries.unionByName(spark.createDataFrame(
        [(8, 89.5, 20.0)], 'qid long, qlat double, qlng double'))

    joins = []
    ring_join = knn.ring_join

    def spy(rings, pages_c):
        joins.append(ring_join(rings, pages_c))
        return joins[-1]

    monkeypatch.setattr(knn, 'ring_join', spy)
    jsc = spark.sparkContext._jsc
    persisted = set(dict(jsc.getPersistentRDDs()))
    for batch, rounds in ((queries, 1), (polar, 2)):
        joins.clear()
        out = knn.knn(pages, batch, 5, 4)
        assert set(dict(jsc.getPersistentRDDs())) == persisted
        assert spark.sparkContext.getCheckpointDir() is None
        assert _is_local(out)
        assert out.count() == batch.count() * 5
        assert len(joins) >= rounds
        for joined in joins:
            joined.collect()  # finalize the AQE plan
            plan = _plan(joined)
            # the ring side (left) is the broadcast one and the pages
            # stream; these test pages are small enough that a ring side
            # without a size estimate would get the pages broadcast
            # instead (BuildRight)
            assert re.search(r'BroadcastHashJoin .*, Inner, BuildLeft', plan)
            for join in ('SortMergeJoin', 'BroadcastNestedLoopJoin',
                         'CartesianProduct'):
                assert join not in plan
            assert not re.search(r'Exchange hashpartitioning\(cell#', plan)


def _is_local(df):
    return (df._jdf.queryExecution().optimizedPlan().getClass()
            .getSimpleName() == 'LocalRelation')


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason='zipimporter.invalidate_caches is lazy on 3.12+')
def test_python_workers_skip_unchanged_zip_rereads(spark):
    """Inside a task: zipimport carries the engine daemon's stamp rule, and
    a second invalidate_caches() keeps every zipimporter's directory
    object. Catches a dropped daemon conf or a pyspark that bypasses it."""
    def _probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        def dirs():
            return {p: id(i._files)
                    for p, i in sys.path_importer_cache.items()
                    if isinstance(i, zipimport.zipimporter)}
        before = dirs()
        importlib.invalidate_caches()
        for _ in batches:
            yield pd.DataFrame({
                'module': [zipimport.zipimporter.invalidate_caches.__module__],
                'zips': [len(before)],
                'kept': [before == dirs()]})

    rows = spark.range(4, numPartitions=2).mapInPandas(
        _probe, 'module string, zips long, kept boolean').collect()
    assert rows
    for r in rows:
        assert r.module == 'buzzard_spark.pydaemon'
        assert r.zips > 0 and r.kept


_WINDOW = ['tile_y', 'tile_x', 'y0', 'x0', 'h', 'w']


def _python_inputs(plan, node):
    """Input columns of every ``node`` Python call in a plan string,
    expression ids stripped."""
    return [re.sub(r'#\d+L?', '', args).split(', ') for args in
            re.findall(node + r' (?:\[[^\]]*\], )?\w+\(([^)]*)\)', plan)]


@pytest.fixture(scope='module')
def raster_inputs(spark, tmp_path_factory):
    """A 21x18 north-up grid, three overlapping rect zones on it, and a
    parquet copy of their rasterized tile rows."""
    from buzzard_spark import Footprint
    from buzzard_spark.kernels import geometry
    from buzzard_spark.operators import raster_ops

    rows = []
    for rid, (x0, y0, x1, y1) in enumerate(
            [(1, -9, 7, -2), (5, -15, 16, -6), (12, -17, 20, -12)]):
        ring = np.asarray([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                           (x0, y0)], float)
        rows.append((rid, bytearray(geometry.wkb_polygon(ring)),
                     float(y0), float(x0), float(y1), float(x1)))
    polys = spark.createDataFrame(
        rows, 'region_id long, wkb binary, minlat double, minlng double, '
              'maxlat double, maxlng double')
    fp = Footprint(tl=(0, 0), size=(21, 18), rsize=(21, 18))
    path = str(tmp_path_factory.mktemp('raster_tiles') / 'tiles')
    raster_ops.rasterize(spark, fp, polys, tile_size=6).write.parquet(path)
    return fp, polys, path


def _node(df, name):
    """The first node called ``name`` of df's physical plan (through an
    adaptive plan's current plan), or None."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == name:
            return node
        if node.nodeName() == 'AdaptiveSparkPlan':
            todo.append(node.executedPlan())
            continue
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return None


def test_raster_python_stages_are_arrow_and_pruned(spark, raster_inputs,
                                                   monkeypatch):
    """rasterize and zonal_stats burn in one MapInArrow straight over the
    Range of tile ids: no nested-loop join and no Exchange below it, and
    zonal's only Exchange is its aggregate's, on region_id. polygonize's
    trace runs as FlatMapGroupsInArrow over exactly its kernel's columns;
    no pandas grouped map is left on these paths."""
    from buzzard_spark.operators import raster_ops

    fp, polys, path = raster_inputs
    tiles = raster_ops.rasterize(spark, fp, polys, tile_size=6)
    zonal = raster_ops.zonal_stats(spark, fp, polys, tile_size=6)
    for df, exchanges in ((tiles, []), (zonal, ['region_id'])):
        plan = _plan(df)
        assert _python_inputs(plan, 'MapInArrow') == [['id']]
        below = _node(df, 'MapInArrow').toString()
        assert 'Range' in below and 'Exchange' not in below
        assert 'BroadcastNestedLoopJoin' not in plan
        assert re.findall(r'Exchange hashpartitioning\((\w+)#', plan) \
            == exchanges
        assert plan.count('Exchange') == len(exchanges)
        assert 'FlatMapGroupsIn' not in plan
    traced = []
    fetch = raster_ops.fetch

    def spy(df, cap, name):
        traced.append(_plan(df))
        return fetch(df, cap, name)

    monkeypatch.setattr(raster_ops, 'fetch', spy)
    # polygonize reads the tiles back, so its only grouped map is its own;
    # its closing fetch is the last one taken
    back = spark.read.parquet(path)
    assert raster_ops.polygonize(spark, fp, back, tile_size=6).count() > 0
    plan = traced[-1]
    assert _python_inputs(plan, 'FlatMapGroupsInArrow') == [
        ['component_id', 'y', 'xs', 'xe']]
    assert 'FlatMapGroupsInPandas' not in plan


@pytest.mark.parametrize('op', ['polygonize', 'vectorize_lines'])
def test_raster_shapes_return_local_relation(spark, raster_inputs, op):
    """polygonize and vectorize_lines fetch their shapes and return a
    local relation; the call leaves no persisted RDD and sets no
    checkpoint dir."""
    from buzzard_spark.operators import raster_ops

    fp, _polys, path = raster_inputs
    jsc = spark.sparkContext._jsc
    persisted = set(dict(jsc.getPersistentRDDs()))
    out = getattr(raster_ops, op)(spark, fp, spark.read.parquet(path),
                                  tile_size=6)
    assert set(dict(jsc.getPersistentRDDs())) == persisted
    assert spark.sparkContext.getCheckpointDir() is None
    assert _is_local(out)
    assert out.count() > 0


def _joins(df):
    """(join, build side under its exchange) for each join of df's
    physical plan, leaving out the plans of the cached relations it scans
    (an InMemoryTableScan has no children)."""
    joins, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == 'AdaptiveSparkPlan':
            todo.append(node.executedPlan())
            continue
        kids = node.children()
        kids = [kids.apply(i) for i in range(kids.size())]
        if name == 'BroadcastHashJoin':
            build = kids[node.buildSide().toString() == 'BuildRight']
            joins.append((name, build.child().nodeName()))
        elif 'Join' in name or name == 'CartesianProduct':
            joins.append((name, None))
        todo += kids
    return joins


@pytest.mark.parametrize('op', ['polygonize', 'vectorize_lines'])
def test_raster_stitch_labels_join_as_local_broadcast(spark, raster_inputs,
                                                      monkeypatch, op):
    """The labels stitched on the driver come back as a local relation:
    the only join of the closing fetch's plan is a BroadcastHashJoin
    whose build side is a LocalTableScan; no SortMergeJoin or
    BroadcastNestedLoopJoin is left."""
    from buzzard_spark.operators import raster_ops

    fp, _polys, path = raster_inputs
    joins = []
    fetch = raster_ops.fetch

    def spy(df, cap, name):
        joins.append(_joins(df))
        return fetch(df, cap, name)

    monkeypatch.setattr(raster_ops, 'fetch', spy)
    out = getattr(raster_ops, op)(spark, fp, spark.read.parquet(path),
                                  tile_size=6)
    assert out.count() > 0
    assert joins[-1] == [('BroadcastHashJoin', 'LocalTableScan')]


def test_tile_runs_maps_tile_rows_without_exchange(spark, raster_inputs):
    """Run labeling is a per-row map straight over the tile scan."""
    from buzzard_spark.operators import raster_ops

    _fp, _polys, path = raster_inputs
    runs = raster_ops.tile_runs(spark.read.parquet(path))
    assert runs.count() > 0
    plan = _plan(runs)
    assert _python_inputs(plan, 'MapInArrow') == [_WINDOW + ['mask']]
    assert 'Exchange' not in plan
    assert 'FlatMapGroupsIn' not in plan


def test_find_lines_halo_maps_are_arrow_over_one_exchange(spark,
                                                          raster_inputs,
                                                          monkeypatch):
    """Every thinning round and vectorize_lines' edge stage is one halo
    map: a FlatMapGroupsInArrow over exactly one Exchange,
    hashpartitioning on (tile_y, tile_x), fed by the strips' MapInArrow.
    No plan of vectorize_lines holds a pandas UDF or a cogroup."""
    from buzzard_spark.operators import raster_ops

    fp, _polys, path = raster_inputs
    halos, plans = [], []
    halo_map, fetch = raster_ops._halo_map, raster_ops.fetch

    def halo_spy(*args):
        # audited when built: the caller persists or checkpoints it next
        df = halo_map(*args)
        halos.append(_node(df, 'FlatMapGroupsInArrow').toString())
        plans.append(_plan(df))
        return df

    def fetch_spy(df, cap, name):
        plans.append(_plan(df))
        return fetch(df, cap, name)

    monkeypatch.setattr(raster_ops, '_halo_map', halo_spy)
    monkeypatch.setattr(raster_ops, 'fetch', fetch_spy)
    out = raster_ops.vectorize_lines(spark, fp, spark.read.parquet(path),
                                     tile_size=6)
    assert out.count() > 0
    # at least one thinning round, then the edge stage
    assert len(halos) >= 2
    for below in halos:
        assert below.count('Exchange') == 1
        keys = re.findall(r'Exchange hashpartitioning\(([^)]*)\)', below)
        assert [re.sub(r'#\d+L?', '', k).split(', ')[:-1] for k in keys] \
            == [['tile_y', 'tile_x']]
        assert 'MapInArrow' in below
    for plan in plans:
        assert 'InPandas' not in plan
        assert 'CoGroup' not in plan
