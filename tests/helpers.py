"""Test-only data builders and geometry helpers.

The oracle queries' page table and polygon regions, the pentagon PIP
predicate the DuckDB oracle rebuilds, a cell's center and a WKB bbox:
the tests use them, and neither the engine nor the benchmark does.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buzzard_spark.functions import sqlgen
from buzzard_spark.functions.sqlgen import PENTAGON, dlit
from buzzard_spark.kernels.cells import cell_bounds
from buzzard_spark.kernels.geometry import wkb_decode
from buzzard_spark.session import local_frame


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages(page_id, url, text, lang, lat, lng)."""
    docs = spark.read.parquet(f'{sf_dir}/documents.parquet')
    return docs.select(
        F.col('doc_id').alias('page_id'),
        F.expr("concat('https://host', CAST(doc_id % 1000 AS STRING), "
               "'.example/', CAST(doc_id AS STRING))").alias('url'),
        'text',
        'lang',
        F.expr(sqlgen.lat_sql('doc_id')).alias('lat'),
        F.expr(sqlgen.lng_sql('doc_id')).alias('lng'),
    )


def regions_pentagon(spark: SparkSession, count: int) -> DataFrame:
    """Convex-pentagon polygon regions as WKB + bbox columns.

    Same centers / half-sizes as the rectangle regions (sqlgen mirrors);
    built driver-side (dimension table — at 10^12-page scale the polygon
    side stays tiny relative to pages; a mapInPandas generator would make
    this executor-side if the dimension itself were huge).
    """
    import numpy as np

    from buzzard_spark.kernels import geometry

    cols = sqlgen.region_cols_np(np.arange(count))
    pent = np.asarray(sqlgen.PENTAGON)
    rows = []
    for r in range(count):
        vx = cols['clng'][r] + cols['halfw'][r] * pent[:, 0]
        vy = cols['clat'][r] + cols['halfh'][r] * pent[:, 1]
        ring = np.column_stack([vx, vy])
        rows.append((r, bytearray(geometry.wkb_polygon(ring)),
                     float(vy.min()), float(vx.min()),
                     float(vy.max()), float(vx.max())))
    return local_frame(
        spark, rows, 'region_id long, wkb binary, minlat double, '
                     'minlng double, maxlat double, maxlng double')


def regions_rect_wkb(spark: SparkSession, count: int) -> DataFrame:
    """The rectangle regions as WKB polygons + bbox columns (for operators
    that take arbitrary WKB geometry, e.g. the distributed rasterizer)."""
    import numpy as np

    from buzzard_spark.kernels import geometry

    cols = sqlgen.region_cols_np(np.arange(count))
    rows = []
    for r in range(count):
        lo_x, hi_x = cols['minlng'][r], cols['maxlng'][r]
        lo_y, hi_y = cols['minlat'][r], cols['maxlat'][r]
        ring = np.asarray([(lo_x, lo_y), (hi_x, lo_y), (hi_x, hi_y),
                           (lo_x, hi_y), (lo_x, lo_y)])
        rows.append((r, bytearray(geometry.wkb_polygon(ring)),
                     float(lo_y), float(lo_x), float(hi_y), float(hi_x)))
    return local_frame(
        spark, rows, 'region_id long, wkb binary, minlat double, '
                     'minlng double, maxlat double, maxlng double')


def pentagon_pip_sql(lat_col: str, lng_col: str, cols: dict) -> str:
    """Convex half-plane PIP against the pentagon region — AND of edge
    cross-products ≥ 0 (CCW). Vertices: (clng + halfw·px, clat + halfh·py)."""
    def vx(i):
        px, _ = PENTAGON[i % 5]
        return '({clng} + {halfw} * {px})'.format(
            clng=cols['clng'], halfw=cols['halfw'], px=dlit(px))

    def vy(i):
        _, py = PENTAGON[i % 5]
        return '({clat} + {halfh} * {py})'.format(
            clat=cols['clat'], halfh=cols['halfh'], py=dlit(py))

    terms = []
    for i in range(5):
        x1, y1, x2, y2 = vx(i), vy(i), vx(i + 1), vy(i + 1)
        terms.append(
            '(({x2} - {x1}) * ({py} - {y1}) - ({y2} - {y1}) * ({px} - {x1})) '
            '>= {zero}'.format(x1=x1, y1=y1, x2=x2, y2=y2,
                               px=lng_col, py=lat_col, zero=dlit(0.0)))
    return '(' + ' AND '.join(terms) + ')'


def cell_center(cell, res):
    minlng, minlat, maxlng, maxlat = cell_bounds(cell, res)
    return (minlat + maxlat) / 2.0, (minlng + maxlng) / 2.0


def wkb_bbox(buf: bytes):
    """(minx, miny, maxx, maxy) of any supported geometry."""
    kind, payload = wkb_decode(buf)
    if kind == 'point':
        x, y = payload
        return (x, y, x, y)
    if kind == 'linestring':
        arr = payload
    elif kind == 'polygon':
        arr = payload[0]
    else:  # multipolygon: exteriors only
        arr = np.vstack([rings[0] for rings in payload])
    return (float(arr[:, 0].min()), float(arr[:, 1].min()),
            float(arr[:, 0].max()), float(arr[:, 1].max()))
