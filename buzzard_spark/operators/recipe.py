"""Cached, resumable tile computation — the Spark re-expression of the
reference's cached raster recipes (reference: buzzard/_dataset.py:1015-1249,
buzzard/_cached_raster_recipe.py:27-202) — and the data-tile codec every
raster table reader and writer shares (``tile_rows`` / ``decode`` /
``paste``).

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

from buzzard_spark.operators.raster_ops import _tile_fp, tile_grid_df
from buzzard_spark.sources.snapshot_table import SnapshotTable

DATA_TILE_SCHEMA = ('tile_y long, tile_x long, channel int, y0 int, x0 int, '
                    'h int, w int, dtype string, data binary')

# primitive tile columns renamed apart from the output tile's in the join
_PRIM_COLS = {'channel': 'pchan', 'y0': 'py0', 'x0': 'px0', 'h': 'ph',
              'w': 'pw', 'dtype': 'pdtype', 'data': 'pdata'}


def tile_rows(tile_key: dict, arr: np.ndarray) -> list[dict]:
    """(Y, X) or (Y, X, C) array → one DATA_TILE_SCHEMA row per channel
    (the reference's channel-last blocks, buzzard/_a_source_raster.py:10-21).
    A (Y, X) array takes ``tile_key``'s channel, 0 when it has none."""
    arr = np.ascontiguousarray(arr)
    if arr.ndim == 2:
        planes = [(tile_key.get('channel', 0), arr)]
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


def decode(row) -> np.ndarray:
    """One DATA_TILE_SCHEMA row → its read-only (h, w) plane."""
    return np.frombuffer(bytes(row['data']), np.dtype(row['dtype'])).reshape(
        int(row['h']), int(row['w']))


def paste(dst: np.ndarray, dy0: int, dx0: int, src: np.ndarray,
          sy0: int, sx0: int, mask: np.ndarray | None = None) -> None:
    """Copy ``src`` into ``dst`` where they overlap; (dy0, dx0) and
    (sy0, sx0) are their top-left pixels on one grid. With ``mask``
    (``src``'s shape) only its True pixels are copied."""
    y0, x0 = max(dy0, sy0), max(dx0, sx0)
    y1 = min(dy0 + dst.shape[0], sy0 + src.shape[0])
    x1 = min(dx0 + dst.shape[1], sx0 + src.shape[1])
    if y1 <= y0 or x1 <= x0:
        return
    d = dst[y0 - dy0:y1 - dy0, x0 - dx0:x1 - dx0]
    s = src[y0 - sy0:y1 - sy0, x0 - sx0:x1 - sx0]
    if mask is None:
        d[...] = s
    else:
        m = mask[y0 - sy0:y1 - sy0, x0 - sx0:x1 - sx0]
        d[m] = s[m]


def cached_tile_compute(
        spark: SparkSession, fp, tile_size: int,
        compute: Callable[[object], np.ndarray],
        cache_root: str) -> tuple[DataFrame, int]:
    """Compute (or resume) a tiled raster into a snapshot table:
    :func:`derived_tile_compute` with no primitives, ``compute(tile_fp)
    -> np.ndarray`` per tile (must be picklable — same contract as the
    reference's compute_array, buzzard/_dataset.py:888-889)."""
    def _tile_only(tile_fp, window_fp, prims):
        return compute(tile_fp)
    return derived_tile_compute(spark, fp, tile_size, _tile_only,
                                cache_root, {})


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
    movement. Resumable through the snapshot manifest. Returns (full table
    DataFrame, number of tiles computed in THIS run — 0 on a warm cache).
    """
    table = SnapshotTable(cache_root)
    tiles = tile_grid_df(spark, fp, tile_size) \
        .withColumn('tile_y', F.col('tile_y').cast('long')) \
        .withColumn('tile_x', F.col('tile_x').cast('long'))
    pending = table.pending(tiles, ['tile_y', 'tile_x'])
    n_pending = pending.count()
    if not n_pending:
        return table.read(spark), 0

    ctx = int(context_px)
    cand = pending
    if primitives:
        prim_union = None
        for name, pdf_tiles in primitives.items():
            tagged = pdf_tiles.select(F.lit(name).alias('prim'), *[
                F.col(c).alias(pc) for c, pc in _PRIM_COLS.items()])
            prim_union = tagged if prim_union is None else \
                prim_union.unionByName(tagged)
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
        row = pdf.iloc[0]
        y0, x0, h, w = int(row.y0), int(row.x0), int(row.h), int(row.w)
        wy0, wx0 = y0 - ctx, x0 - ctx
        wh, ww = h + 2 * ctx, w + 2 * ctx
        windows = {}
        for name in prim_names:
            nsub = pdf.loc[pdf['prim'] == name, list(_PRIM_COLS.values())] \
                .rename(columns={pc: c for c, pc in _PRIM_COLS.items()})
            chans = sorted(nsub['channel'].unique()) if len(nsub) else [0]
            planes = []
            for ch in chans:
                sub = nsub[nsub['channel'] == ch]
                dt = np.dtype(sub.iloc[0]['dtype']) if len(sub) else \
                    np.dtype('float64')
                win = np.full((wh, ww), fill, dtype=dt)
                for _, prow in sub.iterrows():
                    paste(win, wy0, wx0, decode(prow),
                          int(prow['y0']), int(prow['x0']))
                planes.append(win)
            windows[name] = planes[0] if len(planes) == 1 else \
                np.dstack(planes)
        arr = np.asarray(compute(_tile_fp(gt, y0, x0, h, w),
                                 _tile_fp(gt, wy0, wx0, wh, ww), windows))
        assert arr.shape[:2] == (h, w), (arr.shape, (h, w))
        return pd.DataFrame(tile_rows(
            {'tile_y': int(row.tile_y), 'tile_x': int(row.tile_x),
             'y0': y0, 'x0': x0, 'h': h, 'w': w}, arr))

    computed = (cand.groupBy('tile_y', 'tile_x')
                .applyInPandas(_compute, DATA_TILE_SCHEMA))
    table.append(computed, key_cols=['tile_y', 'tile_x'],
                 observe={'rows': F.count(F.lit(1)),
                          'bytes': F.sum(F.length('data'))})
    return table.read(spark), n_pending


def assemble(rows, fp, dtype=None, nodata=0) -> np.ndarray:
    """Stitch collected tile rows into one (Y, X) or (Y, X, C) array
    (driver-side; the distributed analogue of the reference's
    concat_arrays merge, reference: buzzard/utils/_merge_functions.py:3-22)."""
    dt = np.dtype(dtype or rows[0]['dtype'])
    channels = sorted({row['channel'] for row in rows})
    shape = tuple(fp.shape) if channels == [0] else \
        tuple(fp.shape) + (len(channels),)
    out = np.full(shape, nodata, dtype=dt)
    for row in rows:
        dst = out if channels == [0] else \
            out[:, :, channels.index(row['channel'])]
        paste(dst, 0, 0, decode(row), row['y0'], row['x0'])
    return out
