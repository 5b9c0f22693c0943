"""Windowed raster read / masked write over tile tables.

The distributed re-expression of the reference's synchronous IO path
(reference: buzzard/_a_source_raster.py:52-188 get_data,
buzzard/_a_stored_raster.py:17-155 set_data):

- ``get_data``: sampling-window plan (kernel) → Catalyst predicate on the
  tile table's pixel-range columns (partition/row-group pruning — the
  distributed ``ReadAsArray(x, y, w, h)`` pushdown) → driver stitch →
  kernel remap (slice/copy/interpolate regimes).
- ``set_data``: masked, remapped read-modify-write per intersecting tile —
  appended as a new snapshot; readers resolve "latest snapshot wins" per
  tile key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buzzard_spark.kernels import remap as remap_k
from buzzard_spark.operators.recipe import (DATA_TILE_SCHEMA, decode, paste,
                                            tile_rows)
from buzzard_spark.sources.snapshot_table import SnapshotTable


def _pixel_window(raster_fp, sfp):
    x0, y0 = raster_fp.spatial_to_raster(sfp.tl)
    return int(x0), int(y0), sfp.rsizex, sfp.rsizey


def get_data(spark: SparkSession, tiles: DataFrame, raster_fp,
             request_fp=None, nodata=None, dst_nodata=None,
             interpolation='linear', channels=None,
             channel_nodata=None) -> np.ndarray:
    """Windowed read: returns the request window as one ndarray, padded
    with nodata outside the raster (the reference's default chain
    dst_nodata → raster nodata → 0).

    channels: None = all (flat (Y, X) when the table is single-channel),
    int = that channel flat, list = (Y, X, len(channels)) — the reference's
    channel normalization (buzzard/_a_source_raster.py:82-116).

    channel_nodata: per-channel source nodata (channels_schema['nodata'],
    indexed by absolute channel id); channels whose nodata differs are
    remapped independently so nodata-mask propagation stays per-channel.

    .. warning:: this is the SYNC-READ contract (the reference's
       ``get_data`` also returns a driver-side array): the tile rows
       intersecting the request window are ``collect()``-ed to assemble
       the ndarray. A window-sized request collects a window's worth of
       tiles; a WHOLE-RASTER ``fp`` collects the entire table onto the
       driver. For bulk/streamed access use ``queue_data`` (bounded
       per-footprint pulls) or operate on the tile DataFrame directly —
       the same caveat ``vector_source._sliced_by_order`` documents for
       open-ended slices.
    """
    fp = request_fp if request_fp is not None else raster_fp
    onodata = dst_nodata if dst_nodata is not None else (
        nodata if nodata is not None else 0)

    def _src_nodata(abs_channel):
        if channel_nodata is not None and abs_channel < len(channel_nodata) \
                and channel_nodata[abs_channel] is not None:
            return channel_nodata[abs_channel]
        return nodata
    flat_int = isinstance(channels, int)
    chan_list = None if channels is None else (
        [channels] if flat_int else list(channels))

    sfp = remap_k.build_sampling_footprint(raster_fp, fp, interpolation)
    if sfp is None:
        rows = []
    else:
        x0, y0, w, h = _pixel_window(raster_fp, sfp)
        sel = tiles.where(
            (F.col('x0') < x0 + w) & (F.col('x0') + F.col('w') > x0) &
            (F.col('y0') < y0 + h) & (F.col('y0') + F.col('h') > y0))
        if chan_list is not None:
            sel = sel.where(F.col('channel').isin(chan_list))
        rows = sel.collect()
    if not rows:
        if chan_list is not None and len(chan_list) > 1:
            return np.full(tuple(fp.shape) + (len(chan_list),), onodata)
        return np.full(tuple(fp.shape), onodata)

    present = sorted({r['channel'] for r in rows})
    order = chan_list if chan_list is not None else present
    sample_dtype = np.dtype(rows[0]['dtype'])
    sample = np.empty(tuple(sfp.shape) + (len(order),), dtype=sample_dtype)
    for ci, ch in enumerate(order):
        f = _src_nodata(ch)
        sample[:, :, ci] = f if f is not None else 0
    for row in rows:
        if row['channel'] not in order:
            continue
        paste(sample[:, :, order.index(row['channel'])], y0, x0,
              decode(row), row['y0'], row['x0'])
    flat = flat_int or (channels is None and len(order) == 1)
    src_nodatas = [_src_nodata(ch) for ch in order]
    if flat:
        return remap_k.remap(sfp, fp, array=sample[:, :, 0],
                             src_nodata=src_nodatas[0], dst_nodata=onodata,
                             interpolation=interpolation)
    if len(set(src_nodatas)) == 1:
        return remap_k.remap(sfp, fp, array=sample,
                             src_nodata=src_nodatas[0], dst_nodata=onodata,
                             interpolation=interpolation)
    planes = [remap_k.remap(sfp, fp, array=sample[:, :, ci],
                            src_nodata=src_nodatas[ci], dst_nodata=onodata,
                            interpolation=interpolation)
              for ci in range(len(order))]
    return np.stack(planes, axis=-1)


def set_data(spark: SparkSession, cache_root: str, raster_fp,
             tile_size: int, array: np.ndarray, request_fp=None,
             mask: np.ndarray | None = None, nodata=None,
             channel: int = 0) -> dict:
    """Masked write of `array` (located at request_fp, same grid) into the
    tile table: read-modify-write of intersecting tiles, committed as a new
    snapshot (resumable, atomic). 2-D `array` writes `channel`; 3-D writes
    channels 0..C-1; untouched channels keep their prior snapshot rows."""
    fp = request_fp if request_fp is not None else raster_fp
    assert fp.same_grid(raster_fp), 'set_data expects an aligned window'
    table = SnapshotTable(cache_root)
    x0, y0, w, h = _pixel_window(raster_fp, fp)
    if array.ndim == 2:
        planes = {int(channel): array}
    else:
        planes = {c: array[:, :, c] for c in range(array.shape[2])}
    existing = table.read(spark, dedupe_keys=['tile_y', 'tile_x', 'channel'])
    touched = existing.where(
        (F.col('x0') < x0 + w) & (F.col('x0') + F.col('w') > x0) &
        (F.col('y0') < y0 + h) & (F.col('y0') + F.col('h') > y0) &
        F.col('channel').isin(list(planes)))

    def _apply(key, pdf):
        out = []
        for _, row in pdf.iterrows():
            arr = decode(row).copy()
            paste(arr, int(row['y0']), int(row['x0']),
                  planes[int(row['channel'])], y0, x0, mask)
            out.extend(tile_rows(
                {k: int(row[k]) for k in
                 ('tile_y', 'tile_x', 'channel', 'y0', 'x0', 'h', 'w')},
                arr))
        return pd.DataFrame(out)

    updated = (touched.groupBy('tile_y', 'tile_x', 'channel')
               .applyInPandas(_apply, DATA_TILE_SCHEMA))
    return table.append(updated, key_cols=['tile_y', 'tile_x'],
                        observe={'rows': F.count(F.lit(1))})


def window_geotiff(spark: SparkSession, tiles: DataFrame, raster_fp,
                   request_fp=None, **get_data_kwargs) -> bytes:
    """Windowed read exported as a baseline GeoTIFF payload — the
    engine's raster → file path with NO GDAL: :func:`get_data` assembles
    the window (same sync-read contract and driver-side-array warning),
    the values clip to uint8 and the window Footprint's geotransform
    writes as GeoTIFF ModelPixelScale/ModelTiepoint tags, so any GeoTIFF
    reader (including :func:`buzzard_spark.kernels.geotiff.decode_tiff`
    / ``geotiff_footprint`` — the round-trip pytest) sees the correct
    georeferencing.

    Reference analogue: ``Dataset.create_raster`` + ``set_data`` +
    GDAL's GTiff driver writing the file
    (buzzard/_a_gdal_raster.py:create_file); here the table stays the
    storage and the GeoTIFF is an EXPORT artifact (tile serving,
    hand-off to GIS tools). Greyscale (2-D) and RGB (3-channel) windows
    only — the baseline-TIFF codec's domain.
    """
    from buzzard_spark.kernels.geotiff import encode_tiff

    fp = request_fp if request_fp is not None else raster_fp
    arr = get_data(spark, tiles, raster_fp, request_fp=request_fp,
                   **get_data_kwargs)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    if arr.ndim == 3 and arr.shape[2] != 3:
        raise ValueError(
            f'baseline GeoTIFF export is grey/RGB only: {arr.shape}')
    if fp.angle != 0:
        raise ValueError('GeoTIFF scale/tiepoint tags are north-up only')
    arr8 = np.clip(np.round(np.asarray(arr, dtype=np.float64)),
                   0, 255).astype(np.uint8)
    return encode_tiff(arr8, geo=(float(fp.tlx), float(fp.tly),
                                  float(fp.pxsizex), float(fp.pxsizey)))
