"""Vector feature scan — the distributed ``iter_data``
(reference: buzzard/_a_source_vector.py:70-166, pushdown
buzzard/_a_gdal_vector.py:94-125):

- field projection  (None = all fields, [] = geometry only, names list),
- spatial mask      (bbox predicate → Catalyst/parquet min-max pruning —
  the engine's SetSpatialFilterRect),
- exact refine + clip (WKB rect clip in an Arrow pandas UDF),
- slicing           (applied after the filter, deterministic fid order).

Slicing is the reference's ``SetNextByIndex`` (OFFSET/LIMIT on the ordered
feature stream). A naive global ``Window.orderBy(fid)`` funnels every
surviving row through one task; instead the scan range-partitions by fid,
ranks within each range partition (parallel windows), and shifts ranks by
the per-partition counts — the distributed zipWithIndex pattern. Driver
traffic is one row per partition; no single-partition exchange anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from buzzard_spark.session import local_frame


# slices with stop below this run as sort+offset+limit: Spark plans them
# as TakeOrderedAndProject (per-partition top-`stop` heaps, no global-sort
# exchange) — optimal for small windows, and what the reference's
# SetNextByIndex amounts to
SMALL_SLICE_ROWS = 100_000


def _sliced_by_order(df: DataFrame, fid_col: str, start: int,
                     stop: int | None, nparts: int | None = None) -> DataFrame:
    """Rows [start:stop] of df ordered by fid — scale-safe two-phase rank.

    Small bounded slices (stop ≤ SMALL_SLICE_ROWS): ``orderBy.offset.limit``
    → TakeOrderedAndProject, no shuffle at all.

    Large/unbounded slices: phase 1 range-repartitions on fid (contiguous,
    ordered ranges) and counts rows per partition (tiny agg — one output
    row per partition); phase 2 ranks within each range partition (parallel
    windows) and shifts by broadcast cumulative offsets → global position.
    The ranged intermediate is pinned (persist for bounded slices, reliable
    checkpoint for unbounded ones) so phases 1 and 2 see the SAME partition
    contents even when the upstream plan is nondeterministic (round-robin
    repartition, sample(), task retries) — global positions would silently
    shift otherwise.

    .. warning:: an OPEN-ENDED slice (``stop=None``) reliably checkpoints
       the whole surviving table — on a 100-TB source that copies the
       table to the checkpoint dir before a single row is returned. The
       determinism contract requires it (both phases must read identical
       partition contents), so prefer bounded slices (``stop`` set) at
       scale: they pin only memory-cached partitions and release them when
       the ≤ ``stop - start``-row result materializes.
    """
    spark = df.sparkSession
    if stop is not None and stop <= SMALL_SLICE_ROWS:
        out = df.orderBy(F.col(fid_col).asc())
        if start:
            out = out.offset(start)
        return out.limit(stop - start)
    if nparts is None:
        nparts = spark.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(nparts, F.col(fid_col))
              .withColumn('_pid', F.spark_partition_id()))
    from buzzard_spark.session import checkpoint_release, ensure_checkpoint_dir
    bounded = stop is not None
    if bounded:
        ranged = ranged.persist()
    else:
        # open-ended slice: the result is ~table-sized, so an eager result
        # checkpoint is no cheaper than pinning the input — checkpoint the
        # ranged table once and let both phases read the same files
        ensure_checkpoint_dir(spark)
        ranged = ranged.checkpoint(eager=True)
    counts = sorted((r['_pid'], r['n']) for r in
                    ranged.groupBy('_pid').agg(F.count('*').alias('n'))
                    .collect())
    if not counts:
        if bounded:
            ranged.unpersist()
        return df.limit(0)
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = local_frame(spark, offsets, '_pid int, _off long')
    w = Window.partitionBy('_pid').orderBy(F.col(fid_col).asc())
    pos = F.col('_off') + F.row_number().over(w) - 1
    out = (ranged.join(F.broadcast(off_df), '_pid')
           .withColumn('_pos', pos)
           .where((F.col('_pos') >= start) if stop is None else
                  ((F.col('_pos') >= start) & (F.col('_pos') < stop))))
    out = out.drop('_pid', '_off', '_pos')
    if bounded:
        # bounded result ≤ (stop - start) rows: materialize it, release the
        # cached ranged table (cache-lifetime contract)
        out = checkpoint_release(out, [ranged])
    return out


def scan_features(features: DataFrame, fields: list[str] | None = None,
                  mask=None, clip: bool = False,
                  slicing: slice | None = None,
                  geom_col: str = 'wkb', fid_col: str = 'fid') -> DataFrame:
    """features must carry bbox columns (minx, miny, maxx, maxy).

    mask: (minx, miny, maxx, maxy) world rect or None.
    slicing: python slice with step 1 (reference applies it post-filter).
    """
    df = features
    if mask is not None:
        mnx, mny, mxx, mxy = (float(v) for v in mask)
        df = df.where(
            (F.col('minx') <= mxx) & (F.col('maxx') >= mnx) &
            (F.col('miny') <= mxy) & (F.col('maxy') >= mny))
        if clip:
            @F.pandas_udf('binary')
            def _clip(wkb: pd.Series) -> pd.Series:
                from buzzard_spark.kernels import geometry
                out = []
                for buf in wkb:
                    res = geometry.clip_wkb_rect(bytes(buf), mnx, mny, mxx, mxy)
                    out.append(None if res is None else bytearray(res))
                return pd.Series(out)

            df = df.withColumn(geom_col, _clip(F.col(geom_col))) \
                   .where(F.col(geom_col).isNotNull())
    if slicing is not None:
        assert slicing.step in (None, 1), 'only step-1 slicing supported'
        df = _sliced_by_order(df, fid_col, slicing.start or 0, slicing.stop)
    if fields is None:
        return df
    keep = [fid_col, geom_col] + list(fields)
    return df.select(*[c for c in df.columns if c in keep])
