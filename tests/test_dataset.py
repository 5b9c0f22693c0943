"""Dataset facade: registry, raster round-trips, recipe chaining,
vector scans — the reference's top-level workflow on Spark."""

import numpy as np
import pytest

from buzzard_spark import Footprint, synth
from buzzard_spark.dataset import Dataset


@pytest.fixture()
def ds(spark):
    return Dataset(spark)


def test_raster_create_open_get_set(ds, spark, tmp_path):
    fp = Footprint(tl=(0, 60), size=(60, 60), rsize=(60, 60))
    root = str(tmp_path / 'dem')
    ds.create_raster('dem', root, fp, tile_size=25, dtype='float32',
                     nodata=-1.0, fill=5.0)
    assert (ds['dem'].get_data() == 5.0).all()

    patch_fp = fp.clip(10, 10, 30, 30)
    ds['dem'].set_data(np.full((20, 20), 9.0, 'float32'), patch_fp)
    out = ds['dem'].get_data()
    assert (out[10:30, 10:30] == 9.0).all()
    assert (out[:10, :] == 5.0).all()

    # re-open from stored properties in a fresh registry
    ds2 = Dataset(spark)
    ds2.open_raster('dem', root)
    assert ds2['dem'].fp == fp
    assert np.array_equal(ds2['dem'].get_data(), out)

    # windowed + padded read
    win = ds2['dem'].get_data(fp.dilate(5), dst_nodata=-1.0)
    assert win.shape == (70, 70)
    assert (win[:5, :] == -1.0).all()

    with pytest.raises(ValueError, match='registered'):
        ds.create_raster('dem', root, fp)

    # a window past the raster edge writes exactly its 15x15 overlap
    before = ds['dem'].get_data()
    ds['dem'].set_data(np.full((20, 20), 7.0, 'float32'),
                       fp.clip(0, 0, 10, 10).dilate(5))
    after = ds['dem'].get_data()
    assert (after[:15, :15] == 7.0).all()
    assert (after != before).sum() == 15 * 15


def test_recipe_chain(ds, spark, tmp_path):
    fp = Footprint(tl=(0, 60), size=(60, 60), rsize=(60, 60))
    ds.create_raster('base', str(tmp_path / 'base'), fp, tile_size=30,
                     fill=0.0)
    xs, ys = fp.meshgrid_spatial
    ds['base'].set_data((xs + ys).astype('float64'))

    def _blur(tile_fp, window_fp, prims):
        win = prims['src']
        return (win[:-2, 1:-1] + win[2:, 1:-1] +
                win[1:-1, :-2] + win[1:-1, 2:]) / 4.0

    ds.create_cached_raster_recipe(
        'blur', fp, _blur, str(tmp_path / 'blur'), tile_size=30,
        primitives={'src': 'base'}, context_px=1)

    out = ds['blur'].get_data()
    full = xs + ys
    pad = np.pad(full, 1, mode='constant')
    truth = (pad[:-2, 1:-1] + pad[2:, 1:-1] + pad[1:-1, :-2] + pad[1:-1, 2:]) / 4.0
    assert np.array_equal(out, truth)

    # lazily cached: second access recomputes nothing
    assert ds['blur'].ensure() == 0

    # ordered pull-stream (queue_data analogue)
    windows = list(ds['blur'].iter_data(
        [fp.clip(0, 0, 10, 10), fp.clip(20, 20, 40, 40)]))
    assert windows[0].shape == (10, 10)
    assert np.array_equal(windows[1], truth[20:40, 20:40])


def test_numpy_wrap(ds, spark):
    fp = Footprint(tl=(0, 40), size=(40, 40), rsize=(40, 40))
    xs, ys = fp.meshgrid_spatial
    arr = (xs * 2 + ys).astype('float32')
    ds.wrap_numpy('mem', fp, arr, tile_size=16)
    assert np.array_equal(ds['mem'].get_data(), arr)
    win = ds['mem'].get_data(fp.clip(5, 5, 25, 25))
    assert np.array_equal(win, arr[5:25, 5:25])


def test_queue_data_prefetch_and_cancel(ds, spark, tmp_path):
    """queue_data: ordered values == sequential reads; bounded queue;
    dropping the iterator cancels production (reference
    buzzard/_a_async_raster.py:23-80 semantics)."""
    import time

    fp = Footprint(tl=(0, 60), size=(60, 60), rsize=(60, 60))
    ds.create_raster('qd', str(tmp_path / 'qd'), fp, tile_size=30, fill=2.0)
    windows = [fp.clip(i, i, i + 10, i + 10) for i in range(0, 50, 10)]
    got = list(ds['qd'].queue_data(windows, max_queue_size=2))
    assert len(got) == 5
    for arr in got:
        assert arr.shape == (10, 10) and (arr == 2.0).all()

    # early close: producer must stop (no further Spark actions leak)
    it = ds['qd'].queue_data(windows, max_queue_size=1)
    first = next(it)
    assert (first == 2.0).all()
    it.close()
    time.sleep(0.3)  # give the producer loop time to observe the stop flag
    # iter_data is the same pipelined stream
    vals = list(ds['qd'].iter_data(windows[:2]))
    assert len(vals) == 2


def test_numpy_wrap_writable(ds, spark):
    """wrap_numpy rasters accept masked set_data and share memory with the
    wrapped array (reference NumpyRaster contract,
    buzzard/_numpy_raster.py:68-144)."""
    fp = Footprint(tl=(0, 40), size=(40, 40), rsize=(40, 40))
    arr = np.zeros((40, 40), dtype='float32')
    ds.wrap_numpy('memw', fp, arr, tile_size=16)
    patch_fp = fp.clip(10, 10, 30, 30)
    mask = np.zeros((20, 20), dtype=bool)
    mask[5:15, 5:15] = True
    ds['memw'].set_data(np.full((20, 20), 7.0, 'float32'), patch_fp,
                        mask=mask)
    # write is visible through get_data AND through the wrapped array
    out = ds['memw'].get_data()
    assert (out[15:25, 15:25] == 7.0).all()
    assert out.sum() == 7.0 * 100
    assert (arr == out).all()
    # a window past the raster edge writes exactly its 15x15 overlap
    before = arr.copy()
    ds['memw'].set_data(np.full((20, 20), 7.0, 'float32'),
                        fp.clip(0, 0, 10, 10).dilate(5))
    assert (arr[:15, :15] == 7.0).all()
    assert (arr != before).sum() == 15 * 15
    assert (ds['memw'].get_data() == arr).all()
    # fill() goes through the same in-RAM path
    ds['memw'].fill(1.0)
    assert (arr == 1.0).all()


def test_channels_schema(ds, spark, tmp_path):
    """Per-channel nodata/interpretation/offset/scale/mask — normalized and
    persisted through create/open (reference channels_schema,
    buzzard/_a_source_raster.py:204-228)."""
    from buzzard_spark.channels import sanitize_channels_schema

    fp = Footprint(tl=(0, 30), size=(30, 30), rsize=(30, 30))
    root = str(tmp_path / 'rgb')
    ds.create_raster(
        'rgb', root, fp, tile_size=16, dtype='float32', fill=0.0,
        channel_count=3,
        channels_schema={'nodata': [-1.0, None, -3.0],
                         'interpretation': ['redband', 'greenband',
                                            'blueband'],
                         'scale': 2.0})
    r = ds['rgb']
    assert len(r) == 3
    assert r.get_nodata(0) == -1.0 and r.get_nodata(2) == -3.0
    assert r.get_nodata(1) is None
    assert r.channels_schema['interpretation'] == ['redband', 'greenband',
                                                   'blueband']
    assert r.channels_schema['scale'] == [2.0, 2.0, 2.0]
    assert r.channels_schema['mask'] == ['all_valid'] * 3

    # 3-channel write/read round-trip; int channel reads flat
    data = np.stack([np.full((30, 30), v, 'float32') for v in (1, 2, 3)],
                    axis=-1)
    r.set_data(data)
    out = r.get_data(channels=[0, 1, 2])
    assert out.shape == (30, 30, 3)
    assert (out[..., 1] == 2).all()
    flat = r.get_data(channels=2)
    assert flat.shape == (30, 30) and (flat == 3).all()

    # survives open_raster
    ds2 = Dataset(spark)
    ds2.open_raster('rgb', root)
    assert ds2['rgb'].get_nodata(2) == -3.0
    assert len(ds2['rgb']) == 3

    # validation: unknown keys / bad enums / wrong length
    with pytest.raises(ValueError, match='Unknown'):
        sanitize_channels_schema({'bogus': 1}, 1)
    with pytest.raises(ValueError, match='interpretation'):
        sanitize_channels_schema({'interpretation': 'notacolor'}, 1)
    with pytest.raises(ValueError, match='nodata'):
        sanitize_channels_schema({'nodata': [1.0, 2.0]}, 3)


def test_vector_table_insert(ds, spark, tmp_path):
    feats = synth.features(spark, 30)
    ds.create_vector('roads', str(tmp_path / 'roads'), initial_df=feats)
    assert len(ds['roads']) == 30
    more = synth.features(spark, 40).where('fid >= 30')
    ds['roads'].insert_data(more)
    assert len(ds['roads']) == 40
    rows = list(ds['roads'].iter_data(fields=['kind'], slicing=slice(0, 3)))
    assert len(rows) == 3


def test_insert_data_field_coercion(ds, spark, tmp_path):
    """insert_data coerces field types to the stored schema and rejects
    unknown/missing fields (reference coerces each field through its
    definition's python type, buzzard/_a_gdal_vector.py:128-208)."""
    feats = synth.features(spark, 10)
    ds.create_vector('coerce', str(tmp_path / 'coerce'), initial_df=feats)

    # off-typed append the reference would coerce: int fid → long,
    # int volume → double, numeric-string volume → double
    off = spark.createDataFrame(
        [(10, bytearray(b'\x00'), 0.0, 0.0, 1.0, 1.0, 7, 'roof'),
         (11, bytearray(b'\x00'), 0.0, 0.0, 1.0, 1.0, 8, 'road')],
        'fid int, wkb binary, minx double, miny double, maxx double, '
        'maxy double, volume int, kind string')
    ds['coerce'].insert_data(off)
    assert len(ds['coerce']) == 12
    got = {r['fid']: r['volume'] for r in
           ds['coerce'].df.where('fid >= 10').collect()}
    assert got == {10: 7.0, 11: 8.0}

    # unknown / missing fields raise up front
    with pytest.raises(ValueError, match='unknown fields'):
        ds['coerce'].insert_data(off.withColumnRenamed('volume', 'vol'))
    with pytest.raises(ValueError, match='missing fields'):
        ds['coerce'].insert_data(off.drop('volume'))

    # non-coercible value fails the write (ANSI cast), not a silent insert
    bad = spark.createDataFrame(
        [(12, bytearray(b'\x00'), 0.0, 0.0, 1.0, 1.0, 'abc', 'roof')],
        'fid long, wkb binary, minx double, miny double, maxx double, '
        'maxy double, volume string, kind string')
    with pytest.raises(Exception):
        ds['coerce'].insert_data(bad)
    assert len(ds['coerce']) == 12


def test_queue_data_lazy_start_and_unstarted_close(ds, spark, tmp_path):
    """An unconsumed queue_data iterator must never run a Spark action, and
    close() on a never-started iterator cancels production outright
    (round-2 regression: the producer thread started eagerly and a
    never-started generator's finally could not stop it)."""
    import time

    fp = Footprint(tl=(0, 60), size=(60, 60), rsize=(60, 60))
    ds.create_raster('qlazy', str(tmp_path / 'qlazy'), fp, tile_size=30,
                     fill=3.0)
    calls = []
    proxy = ds['qlazy']
    orig = proxy.get_data

    def _counting(fpw, **kw):
        calls.append(fpw)
        return orig(fpw, **kw)

    proxy.get_data = _counting
    try:
        windows = [fp.clip(i, i, i + 10, i + 10) for i in range(0, 50, 10)]
        it = proxy.queue_data(windows, max_queue_size=1)
        time.sleep(0.3)
        assert calls == []          # lazy: nothing produced before __next__
        it.close()                  # close before start: still a no-op
        time.sleep(0.2)
        assert calls == []
        with pytest.raises(StopIteration):
            next(it)                # closed iterator stays closed

        it2 = proxy.queue_data(windows, max_queue_size=1)
        first = next(it2)
        assert (first == 3.0).all() and len(calls) >= 1
        it2.close()
        n_after_close = len(calls)
        time.sleep(0.4)             # producer observes stop; ≤1 in-flight
        assert len(calls) <= n_after_close + 1 < len(windows)
    finally:
        proxy.get_data = orig


def test_reproject_multipolygon(spark):
    """Registering a multipolygon source on a Dataset with sr_work must
    reproject each part (round-2 gap: _rewkb raised on multipolygons
    although the WKB codecs support them)."""
    from buzzard_spark.kernels import crs as _crs
    from buzzard_spark.kernels import geometry as _geometry

    sq1 = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    sq2 = [(3.0, 3.0), (4.0, 3.0), (4.0, 4.0), (3.0, 4.0)]
    wkb = _geometry.wkb_multipolygon([(sq1, ()), (sq2, ())])
    df = spark.createDataFrame(
        [(0, bytearray(wkb), 0.0, 0.0, 4.0, 4.0)],
        'fid long, wkb binary, minx double, miny double, '
        'maxx double, maxy double')
    dsv = Dataset(spark, sr_work='webmercator', sr_fallback='lonlat')
    dsv.register_vector('mp', df)
    row = dsv['mp'].df.collect()[0]
    kind, parts = _geometry.wkb_decode(bytes(row['wkb']))
    assert kind == 'multipolygon' and len(parts) == 2
    fwd = _crs.get_transform('lonlat', 'webmercator')
    want_x, want_y = fwd(np.asarray([0.0]), np.asarray([0.0]))
    np.testing.assert_allclose(parts[0][0][0], [want_x[0], want_y[0]])
    assert row['maxx'] == fwd(np.asarray([4.0]), np.asarray([0.0]))[0][0]


def test_sr_modes(spark, tmp_path):
    """The four sr modes (reference: buzzard/_dataset.py:199-275) —
    footprint relocation on open, vector reprojection on register, fallback
    and forced resolution, and the mode-2 missing-sr error."""
    from buzzard_spark.kernels import crs

    fp = Footprint(tl=(0.0, 10.0), size=(10.0, 10.0), rsize=(10, 10))

    # mode 1: no conversion at all
    ds1 = Dataset(spark)
    ds1.create_raster('r', str(tmp_path / 'm1'), fp, tile_size=10, fill=1.0,
                      sr='lonlat')
    assert ds1['r'].fp == fp

    # mode 2: stored sr converted into work sr
    ds2 = Dataset(spark, sr_work='webmercator')
    ds2.create_raster('r', str(tmp_path / 'm2'), fp, tile_size=10, fill=1.0,
                      sr='lonlat')
    want = crs.normalize_footprint(fp, 'lonlat', 'webmercator')
    assert ds2['r'].fp == want
    assert ds2['r'].fp_stored == fp
    # mode 2 without stored sr: error
    with pytest.raises(ValueError, match='no stored sr'):
        ds2.create_raster('r2', str(tmp_path / 'm2b'), fp, tile_size=10)

    # mode 3: fallback fills missing sr; stored wins when present
    ds3 = Dataset(spark, sr_work='webmercator', sr_fallback='lonlat')
    ds3.create_raster('r', str(tmp_path / 'm3'), fp, tile_size=10, fill=1.0)
    assert ds3['r'].fp == want
    ds3.create_raster('r_wm', str(tmp_path / 'm3b'), fp, tile_size=10,
                      fill=1.0, sr='webmercator')
    assert ds3['r_wm'].fp == fp  # already in work sr

    # mode 4: forced overrides stored
    ds4 = Dataset(spark, sr_work='webmercator', sr_forced='lonlat')
    ds4.create_raster('r', str(tmp_path / 'm4'), fp, tile_size=10, fill=1.0,
                      sr='webmercator')
    assert ds4['r'].fp == want  # stored ignored, treated as lonlat

    # open_raster re-applies the active mode
    ds5 = Dataset(spark, sr_work='webmercator', sr_fallback='lonlat')
    ds5.open_raster('r', str(tmp_path / 'm3'))
    assert ds5['r'].fp == want

    # vector reprojection: geometry and bbox move together
    feats = synth.features(spark, 6)
    dsv = Dataset(spark, sr_work='webmercator', sr_fallback='lonlat')
    dsv.register_vector('f', feats)
    from buzzard_spark.kernels import geometry
    fwd = crs.get_transform('lonlat', 'webmercator')
    src_rows = {r['fid']: r for r in feats.collect()}
    for row in dsv['f'].df.collect():
        src = src_rows[row['fid']]
        kind, payload = geometry.wkb_decode(bytes(row['wkb']))
        skind, spayload = geometry.wkb_decode(bytes(src['wkb']))
        assert kind == skind
        if kind == 'point':
            wx, wy = fwd(spayload[0], spayload[1])
            assert payload[0] == pytest.approx(float(wx))
            assert payload[1] == pytest.approx(float(wy))
        mx = fwd(np.asarray([src['minx']]), np.asarray([0.0]))[0][0]
        assert row['minx'] == pytest.approx(float(mx))

    # invalid configurations
    with pytest.raises(ValueError, match='mutually'):
        Dataset(spark, sr_work='lonlat', sr_fallback='a', sr_forced='b')
    with pytest.raises(ValueError, match='require sr_work'):
        Dataset(spark, sr_fallback='lonlat')


def test_vector_geojson_codecs(ds, spark):
    """iter_data geom_type codecs + iter_geojson/get_geojson — the
    reference's geometry codec matrix (buzzard/_a_source_vector.py:86-107)."""
    feats = synth.features(spark, 9)
    ds.register_vector('gj', feats)
    rows = list(ds['gj'].iter_data(fields=['kind'], slicing=slice(0, 3),
                                   geom_type='geojson'))
    assert len(rows) == 3
    geom, kind = rows[0]
    assert geom['type'] == 'Point' and kind == 'roof'
    assert rows[1][0]['type'] == 'LineString'
    assert rows[2][0]['type'] == 'Polygon'
    assert len(rows[2][0]['coordinates'][0]) == 5  # closed ring

    coords = list(ds['gj'].iter_data(fields=[], slicing=slice(0, 1),
                                     geom_type='coordinates'))
    assert len(coords) == 1 and len(coords[0]) == 2  # bare [x, y]

    f = ds['gj'].get_geojson(1)
    assert f['type'] == 'Feature'
    assert f['geometry']['type'] == 'LineString'
    assert f['properties']['kind'] == 'road'
    assert f['properties']['fid'] == 1


def test_vector_registry(ds, spark):
    feats = synth.features(spark, 90)
    ds.register_vector('feats', feats)
    assert len(ds['feats']) == 90
    b = ds['feats'].bounds
    assert b[0] < b[2] and b[1] < b[3]
    rows = list(ds['feats'].iter_data(
        fields=['kind'], mask=(-60, -40, 60, 40), slicing=slice(0, 5)))
    assert len(rows) <= 5
    assert all(hasattr(r, 'kind') for r in rows)
