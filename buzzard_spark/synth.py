"""Deterministic synthetic web-page corpus (Common-Crawl-style).

``synthetic_pages``: ``spark.range(n)``-generated pages at any scale —
used by perfbench (the generator is O(1) memory per partition and
scale-free). Its geoparsing arithmetic (functions.sqlgen) is the one the
oracle-checked queries derive from the testdata ``documents`` parquet
(tests/helpers.py), and the DuckDB oracles re-derive in SQL.

Everything is built from Catalyst expressions — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buzzard_spark.functions import sqlgen
from buzzard_spark.session import local_frame


N_LAT_STRIPS = 4096


def synthetic_pages(spark: SparkSession, n: int, partitions: int | None = None,
                    layout: str = 'hash') -> DataFrame:
    """Scale-free pages table for benchmarks: (page_id, url, warc_ts, html,
    text, lang, lat, lng). html/text are deterministic functions of the id
    (byte-identical per url at any partitioning — the north-rule invariant).

    layout='hash': geoparsed lat/lng are pure hashes of the id — row order
    is spatially random (a table written in crawl order).

    layout='clustered': the same uniform distribution, but row order is
    latitude-clustered (``N_LAT_STRIPS`` equal-count strips, monotone in
    page_id; longitude stays hashed). This models the layout a production
    Iceberg deployment writes: a spatial sort order / Z-order clustering on
    the cell column, which Iceberg applies at write time precisely so that
    downstream per-(region, tile) aggregations see few distinct groups per
    file — map-side combine then emits O(groups) total instead of
    O(groups × tasks), which is what makes the aggregation scale with
    executor count (BASELINE.md round-2 notes).
    """
    df = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    df = df.withColumnRenamed('id', 'page_id')
    text = F.expr("concat('page ', CAST(page_id AS STRING), ' ', "
                  "md5(CAST(page_id AS STRING)), ' ', "
                  "md5(CAST(page_id * 31 AS STRING)))")
    if layout == 'clustered':
        strip = f'CAST((page_id * {N_LAT_STRIPS}L) DIV {int(n)}L AS DOUBLE)'
        frac = (f'(((page_id * {sqlgen.LAT_MULT}) % {sqlgen.HASH_MOD}) '
                f'/ {sqlgen.dlit(sqlgen.HASH_MOD)})')
        lat = (f'({sqlgen.dlit(-85.0)} + (({strip} + {frac}) '
               f'/ {sqlgen.dlit(N_LAT_STRIPS)}) * {sqlgen.dlit(170.0)})')
    elif layout == 'hash':
        lat = sqlgen.lat_sql('page_id')
    else:
        raise ValueError(f'unknown layout {layout!r}')
    # lat/lng wrapped in value-neutral coalesce: provably non-nullable
    # columns keep downstream inner joins from inferring IsNotNull
    # constraints that would recompute the geoparse arithmetic inside an
    # extra Filter node (see spatial_join.assign_cell)
    return df.select(
        'page_id',
        F.expr("concat('https://host', CAST(page_id % 1000 AS STRING), "
               "'.example/', CAST(page_id AS STRING))").alias('url'),
        F.expr("timestamp_seconds(1735689600 + (page_id * 1337) % 31536000)"
               ).alias('warc_ts'),
        F.encode(F.concat(F.lit('<html><body>'), text, F.lit('</body></html>')),
                 'utf-8').alias('html'),
        text.alias('text'),
        F.expr("element_at(array('en','fr','de','es','pt'), "
               "CAST(page_id % 5 AS INT) + 1)").alias('lang'),
        F.expr(f'coalesce({lat}, 0D)').alias('lat'),
        F.expr(f"coalesce({sqlgen.lng_sql('page_id')}, 0D)").alias('lng'),
    )


def features(spark: SparkSession, count: int) -> DataFrame:
    """FIXTURES.md F7-style vector features: point / linestring / polygon by
    fid % 3, WKB + bbox columns + typed fields."""
    import numpy as np

    from buzzard_spark.kernels import geometry

    fids = np.arange(count)
    lat = sqlgen.lat_np(fids * 31 + 7)
    lng = sqlgen.lng_np(fids * 31 + 7)
    kinds = ['roof', 'road', 'field']
    rows = []
    for i in range(count):
        x, y = float(lng[i]), float(lat[i])
        mode = i % 3
        if mode == 0:
            wkb = geometry.wkb_point(x, y)
            bbox = (x, y, x, y)
        elif mode == 1:
            wkb = geometry.wkb_linestring([(x, y), (x + 1.0, y + 1.0)])
            bbox = (x, y, x + 1.0, y + 1.0)
        else:
            ring = [(x - 0.5, y - 0.5), (x + 0.5, y - 0.5),
                    (x + 0.5, y + 0.5), (x - 0.5, y + 0.5)]
            wkb = geometry.wkb_polygon(ring)
            bbox = (x - 0.5, y - 0.5, x + 0.5, y + 0.5)
        rows.append((i, bytearray(wkb), *[float(v) for v in bbox],
                     i * 1.5, kinds[mode]))
    return local_frame(
        spark, rows, 'fid long, wkb binary, minx double, miny double, '
                     'maxx double, maxy double, volume double, kind string')


def regions(spark: SparkSession, count: int) -> DataFrame:
    """Synthetic rectangle regions with ~2% hot (oversized) members —
    the skew driver for the cover-cell join."""
    cols = sqlgen.region_cols_sql('region_id')
    df = spark.range(count).withColumnRenamed('id', 'region_id')
    return df.select(
        'region_id',
        *[F.expr(sql).alias(name) for name, sql in cols.items()],
    )
