"""Vector feature scan — the distributed ``iter_data``
(reference: buzzard/_a_source_vector.py:70-166, pushdown
buzzard/_a_gdal_vector.py:94-125):

- field projection  (None = all fields, [] = geometry only, names list),
- spatial mask      (bbox predicate → Catalyst/parquet min-max pruning —
  the engine's SetSpatialFilterRect),
- exact refine + clip (WKB rect clip in an Arrow pandas UDF),
- slicing           (applied after the filter, deterministic fid order).

Slicing is the reference's ``SetNextByIndex`` (OFFSET/LIMIT on the ordered
feature stream): ``orderBy(fid).offset(start)[.limit(stop - start)]``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sliced_by_order(df: DataFrame, fid_col: str, start: int,
                     stop: int | None) -> DataFrame:
    """Rows [start:stop] of df ordered by fid.

    A bounded slice plans as TakeOrderedAndProject: per-partition
    top-``stop`` heaps, no global-sort exchange.

    .. warning:: an OPEN-ENDED slice (``stop=None``) is a global sort
       followed by an offset that Spark applies in one place — on the
       driver for a collect, in a single-partition exchange otherwise —
       so every surviving row past ``start`` passes through it. Prefer
       bounded slices at scale.
    """
    out = df.orderBy(F.col(fid_col).asc())
    if start:
        out = out.offset(start)
    return out if stop is None else out.limit(stop - start)


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
