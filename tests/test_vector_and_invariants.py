"""Vector-scan semantics + the north-rule invariant: byte-identical text
per url across the pipeline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from buzzard_spark import synth
from buzzard_spark.kernels import geometry as G
from buzzard_spark.operators import spatial_join, vector_source


def test_clip_ring_rect_kernel():
    ring = np.asarray([(0., 0.), (10., 0.), (10., 10.), (0., 10.), (0., 0.)])
    out = G.clip_ring_rect(ring, 2, 2, 8, 8)
    assert G.polygon_area([out]) == pytest.approx(36.0)
    out = G.clip_ring_rect(ring, -5, -5, 5, 5)
    assert G.polygon_area([out]) == pytest.approx(25.0)
    assert G.clip_ring_rect(ring, 20, 20, 30, 30) is None
    # triangle cut by one edge gains a vertex
    tri = np.asarray([(0., 0.), (10., 0.), (5., 10.), (0., 0.)])
    out = G.clip_ring_rect(tri, 0, 0, 10, 5)
    assert G.polygon_area([out]) == pytest.approx(50 - 0.5 * 5 * 5)


def test_clip_wkb_rect_kinds():
    assert G.clip_wkb_rect(G.wkb_point(1, 1), 0, 0, 2, 2) is not None
    assert G.clip_wkb_rect(G.wkb_point(5, 5), 0, 0, 2, 2) is None
    buf = G.wkb_polygon([(0, 0), (4, 0), (4, 4), (0, 4)])
    clipped = G.clip_wkb_rect(buf, 2, 2, 9, 9)
    kind, rings = G.wkb_decode(clipped)
    assert kind == 'polygon'
    assert G.polygon_area(rings) == pytest.approx(4.0)


def test_scan_features_projection_mask_clip_slice(spark):
    feats = synth.features(spark, 120)

    all_rows = vector_source.scan_features(feats).collect()
    assert len(all_rows) == 120 and len(all_rows[0]) == 8

    proj = vector_source.scan_features(feats, fields=['kind'])
    assert proj.columns == ['fid', 'wkb', 'kind']

    mask = (-50.0, -30.0, 50.0, 30.0)
    masked = vector_source.scan_features(feats, mask=mask).collect()
    truth = [r for r in all_rows
             if r['minx'] <= mask[2] and r['maxx'] >= mask[0] and
             r['miny'] <= mask[3] and r['maxy'] >= mask[1]]
    assert {r['fid'] for r in masked} == {r['fid'] for r in truth}
    assert 0 < len(masked) < 120

    clipped = vector_source.scan_features(feats, mask=mask, clip=True).collect()
    assert {r['fid'] for r in clipped} <= {r['fid'] for r in masked}
    for r in clipped:
        kind, payload = G.wkb_decode(bytes(r['wkb']))
        if kind == 'polygon':
            xs = payload[0][:, 0]
            ys = payload[0][:, 1]
            assert xs.min() >= mask[0] - 1e-9 and xs.max() <= mask[2] + 1e-9
            assert ys.min() >= mask[1] - 1e-9 and ys.max() <= mask[3] + 1e-9

    sliced = vector_source.scan_features(
        feats, mask=mask, slicing=slice(3, 10)).collect()
    truth_fids = sorted(r['fid'] for r in masked)
    assert sorted(r['fid'] for r in sliced) == truth_fids[3:10]
    open_ended = vector_source.scan_features(
        feats, mask=mask, slicing=slice(3, None)).collect()
    assert sorted(r['fid'] for r in open_ended) == truth_fids[3:]


def test_text_byte_identity_through_pipeline(spark, tmp_path):
    """north rule: extracted text stays byte-identical per url through
    cell assignment, repartitioning, joins and a parquet round-trip."""
    pages = synth.synthetic_pages(spark, 2000)
    baseline = {r['url']: r['text'].encode('utf-8')
                for r in pages.select('url', 'text').collect()}

    processed = spatial_join.assign_cell(pages, 9) \
        .repartition(16, 'cell') \
        .join(F.broadcast(synth.regions(spark, 50)),
              F.expr('lat BETWEEN minlat AND maxlat AND '
                     'lng BETWEEN minlng AND maxlng'), 'left_outer') \
        .select('url', 'text').distinct()
    out_dir = str(tmp_path / 'pages_out')
    processed.write.parquet(out_dir)
    after = {r['url']: r['text'].encode('utf-8')
             for r in spark.read.parquet(out_dir).collect()}
    assert after == baseline

