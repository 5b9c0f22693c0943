"""Cached, resumable tile computation — the Spark re-expression of the
reference's cached raster recipes (reference: buzzard/_dataset.py:1015-1249,
buzzard/_cached_raster_recipe.py:27-202).

The reference's actor pipeline (QueriesHandler → CacheSupervisor →
Computer → Merger → Writer → …, ~2600 LoC) collapses into one DataFrame
plan: enumerate tiles → anti-join the snapshot manifest (skip what exists:
"pixels never computed twice") → applyInPandas(compute) → snapshot append
with per-file lineage + Observation metrics. Corrupted cache files are
detected by the manifest integrity check and their tiles recomputed
(reference: buzzard/_actors/cached/file_checker.py semantics).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buzzard_spark.operators.raster_ops import tile_grid_df
from buzzard_spark.sources.snapshot_table import SnapshotTable

DATA_TILE_SCHEMA = ('tile_y long, tile_x long, channel int, y0 int, x0 int, '
                    'h int, w int, dtype string, data binary')


def tile_rows(tile_key: dict, arr: np.ndarray) -> list[dict]:
    """(Y, X) or (Y, X, C) array → one DATA_TILE_SCHEMA row per channel
    (the reference's channel-last blocks, buzzard/_a_source_raster.py:10-21)."""
    arr = np.ascontiguousarray(arr)
    if arr.ndim == 2:
        planes = [(0, arr)]
    else:
        planes = [(c, np.ascontiguousarray(arr[:, :, c]))
                  for c in range(arr.shape[2])]
    out = []
    for c, plane in planes:
        row = dict(tile_key)
        row.update({'channel': c, 'dtype': str(plane.dtype),
                    'data': bytearray(plane.tobytes())})
        out.append(row)
    return out


def cached_tile_compute(
        spark: SparkSession, fp, tile_size: int,
        compute: Callable[[object], np.ndarray],
        cache_root: str) -> tuple[DataFrame, int]:
    """Compute (or resume) a tiled raster into a snapshot table.

    ``compute(tile_fp) -> np.ndarray`` runs per tile inside applyInPandas
    (must be picklable — same contract as the reference's compute_array,
    buzzard/_dataset.py:888-889). Returns (full table DataFrame, number of
    tiles computed in THIS run — 0 on a warm cache).
    """
    table = SnapshotTable(cache_root)
    tiles = tile_grid_df(spark, fp, tile_size) \
        .withColumn('tile_y', F.col('tile_y').cast('long')) \
        .withColumn('tile_x', F.col('tile_x').cast('long'))
    pending = table.pending(tiles, ['tile_y', 'tile_x'])
    n_pending = pending.count()

    if n_pending:
        gt = tuple(float(v) for v in fp.gt)

        def _compute(key, pdf):
            from buzzard_spark.kernels.footprint import Footprint
            out = []
            for _, row in pdf.iterrows():
                tile_gt = list(gt)
                tile_gt[0] = gt[0] + int(row.x0) * gt[1]
                tile_gt[3] = gt[3] + int(row.y0) * gt[5]
                tile_fp = Footprint(gt=tile_gt, rsize=(int(row.w), int(row.h)))
                arr = compute(tile_fp)
                out.extend(tile_rows(
                    {'tile_y': int(row.tile_y), 'tile_x': int(row.tile_x),
                     'y0': int(row.y0), 'x0': int(row.x0),
                     'h': int(row.h), 'w': int(row.w)}, arr))
            return pd.DataFrame(out)

        computed = (pending.groupBy('tile_y', 'tile_x')
                    .applyInPandas(_compute, DATA_TILE_SCHEMA))
        table.append(
            computed, key_cols=['tile_y', 'tile_x'],
            observe={'rows': F.count(F.lit(1)),
                     'bytes': F.sum(F.length('data'))})
    return table.read(spark), n_pending


def derived_tile_compute(
        spark: SparkSession, fp, tile_size: int, compute,
        cache_root: str, primitives: dict, context_px: int = 0,
        fill=0) -> tuple[DataFrame, int]:
    """Derived raster: per-tile compute over windows of primitive rasters
    with context dilation — the reference's recipe DAG
    (reference: buzzard/_dataset.py:771-1012 ``create_raster_recipe`` with
    ``convert_footprint_per_primitive`` like ``lambda fp: fp.dilate(10)``).

    primitives: {name: tiles_df} — DATA_TILE_SCHEMA tables on the SAME
    pixel grid as ``fp`` (compose with operators.raster_io/remap to
    resample unaligned primitives first).
    compute(tile_fp, window_fp, prim_arrays: dict[str, ndarray]) -> ndarray
    of tile shape; each primitive window is tile ± context_px pixels,
    ``fill``-padded outside the primitive raster.

    The tile grid is broadcast against the primitive tile rows (pixel-range
    join), so the shuffle is keyed by output tile — no driver-side data
    movement. Resumable through the snapshot manifest like
    cached_tile_compute.
    """
    table = SnapshotTable(cache_root)
    tiles = tile_grid_df(spark, fp, tile_size) \
        .withColumn('tile_y', F.col('tile_y').cast('long')) \
        .withColumn('tile_x', F.col('tile_x').cast('long'))
    pending = table.pending(tiles, ['tile_y', 'tile_x'])
    n_pending = pending.count()
    if not n_pending:
        return table.read(spark), 0

    prim_union = None
    for name, pdf_tiles in primitives.items():
        tagged = pdf_tiles.select(
            F.lit(name).alias('prim'), F.col('channel').alias('pchan'),
            F.col('y0').alias('py0'), F.col('x0').alias('px0'),
            F.col('h').alias('ph'), F.col('w').alias('pw'),
            F.col('dtype').alias('pdtype'), F.col('data').alias('pdata'))
        prim_union = tagged if prim_union is None else \
            prim_union.unionByName(tagged)

    ctx = int(context_px)
    t = F.broadcast(pending).alias('t')
    p = prim_union.alias('p')
    cand = t.join(p, (
        (F.col('p.px0') < F.col('t.x0') + F.col('t.w') + ctx) &
        (F.col('p.px0') + F.col('p.pw') > F.col('t.x0') - ctx) &
        (F.col('p.py0') < F.col('t.y0') + F.col('t.h') + ctx) &
        (F.col('p.py0') + F.col('p.ph') > F.col('t.y0') - ctx)))

    gt = tuple(float(v) for v in fp.gt)
    prim_names = sorted(primitives)

    def _compute(key, pdf):
        from buzzard_spark.kernels.footprint import Footprint
        row = pdf.iloc[0]
        y0, x0, h, w = int(row.y0), int(row.x0), int(row.h), int(row.w)
        wy0, wx0 = y0 - ctx, x0 - ctx
        wh, ww = h + 2 * ctx, w + 2 * ctx
        windows = {}
        for name in prim_names:
            nsub = pdf[pdf['prim'] == name]
            chans = sorted(nsub['pchan'].unique()) if len(nsub) else [0]
            planes = []
            for ch in chans:
                sub = nsub[nsub['pchan'] == ch]
                dt = np.dtype(sub.iloc[0]['pdtype']) if len(sub) else \
                    np.dtype('float64')
                win = np.full((wh, ww), fill, dtype=dt)
                for _, prow in sub.iterrows():
                    arr = np.frombuffer(bytes(prow['pdata']), dtype=np.dtype(
                        prow['pdtype'])).reshape(int(prow['ph']), int(prow['pw']))
                    ty0, tx0 = int(prow['py0']) - wy0, int(prow['px0']) - wx0
                    sy0, sx0 = max(0, ty0), max(0, tx0)
                    sy1 = min(wh, ty0 + int(prow['ph']))
                    sx1 = min(ww, tx0 + int(prow['pw']))
                    if sy1 > sy0 and sx1 > sx0:
                        win[sy0:sy1, sx0:sx1] = arr[sy0 - ty0:sy1 - ty0,
                                                    sx0 - tx0:sx1 - tx0]
                planes.append(win)
            windows[name] = planes[0] if len(planes) == 1 else \
                np.dstack(planes)
        tile_gt = list(gt)
        tile_gt[0] = gt[0] + x0 * gt[1]
        tile_gt[3] = gt[3] + y0 * gt[5]
        tile_fp = Footprint(gt=tile_gt, rsize=(w, h))
        win_gt = list(gt)
        win_gt[0] = gt[0] + wx0 * gt[1]
        win_gt[3] = gt[3] + wy0 * gt[5]
        window_fp = Footprint(gt=win_gt, rsize=(ww, wh))
        arr = np.asarray(compute(tile_fp, window_fp, windows))
        assert arr.shape[:2] == (h, w), (arr.shape, (h, w))
        return pd.DataFrame(tile_rows(
            {'tile_y': int(row.tile_y), 'tile_x': int(row.tile_x),
             'y0': y0, 'x0': x0, 'h': h, 'w': w}, arr))

    computed = (cand.groupBy('tile_y', 'tile_x')
                .applyInPandas(_compute, DATA_TILE_SCHEMA))
    table.append(computed, key_cols=['tile_y', 'tile_x'],
                 observe={'rows': F.count(F.lit(1))})
    return table.read(spark), n_pending


def assemble(rows, fp, dtype=None, nodata=0) -> np.ndarray:
    """Stitch collected tile rows into one (Y, X) or (Y, X, C) array
    (driver-side; the distributed analogue of the reference's
    concat_arrays merge, reference: buzzard/utils/_merge_functions.py:3-22)."""
    first = rows[0]
    dt = np.dtype(dtype or first['dtype'])
    channels = sorted({row['channel'] for row in rows})
    shape = tuple(fp.shape) if channels == [0] else \
        tuple(fp.shape) + (len(channels),)
    out = np.full(shape, nodata, dtype=dt)
    for row in rows:
        arr = np.frombuffer(bytes(row['data']),
                            dtype=np.dtype(row['dtype']))
        arr = arr.reshape(row['h'], row['w'])
        sl = (slice(row['y0'], row['y0'] + row['h']),
              slice(row['x0'], row['x0'] + row['w']))
        if channels == [0]:
            out[sl] = arr
        else:
            out[sl + (channels.index(row['channel']),)] = arr
    return out
