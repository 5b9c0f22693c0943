"""Distributed spatial join: cell-indexed point-in-polygon.

The Spark-first generalization of buzzard's single-machine overlay
(reference: buzzard/_a_gdal_vector.py:94-103 ``SetSpatialFilter`` +
buzzard/_footprint.py:421 ``intersection``): instead of filtering one
polygon at a time against one OGR layer, the engine

1. assigns every page its equirectangular cell (JVM-side arithmetic —
   whole-stage codegen, no Python),
2. explodes each region into its cover cells (sequence() + explode, also
   JVM-side),
3. equi-joins on cell against the BROADCAST cover: the pages are never
   shuffled for the join, so a hot cell (a dense region) is no skew —
   every page probes the cover's hash table in its own map task,
4. refines exactly with the geometric predicate.

The filter-then-refine shape (rasterized cell signature as the join
key, exact geometric predicate as the verify) is the published design
point for distributed polygon joins — "Raster Intervals" (SIGMOD'23)
builds the same approximation from interval-coded raster cells; this
engine's equivalent is the cover-cell equi-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from buzzard_spark.functions import sqlgen
from buzzard_spark.kernels import cells


def assign_cell(pages: DataFrame, res: int,
                lat='lat', lng='lng', out='cell') -> DataFrame:
    """Add the cell-id column (pure Catalyst expression).

    The expression is wrapped in a value-neutral ``coalesce(expr, -1)`` so
    the column is provably NON-NULLABLE: without it, an inner join on the
    cell infers an IsNotNull(cell) constraint that Catalyst pushes below
    the projection, RECOMPUTING the whole cell expression (and its lat/lng
    inputs) a second time per row inside a Filter node — measured as a
    significant share of the flagship's map-stage cost (round 3).

    The sentinel is -1, a cell id no cover/ring expansion can ever emit
    (all real cells are ≥ 0): a row with NULL lat/lng therefore still
    drops out of every downstream equi-join, preserving inner-join null
    semantics exactly. The null check must be EXPLICIT (ADVICE r3): the
    cell expression's GREATEST/LEAST clamps swallow nulls in Spark
    (``greatest(NULL, 0) = 0``), so a NULL coordinate would otherwise be
    silently clamped into a VALID edge cell, never surfacing as NULL for
    a coalesce to catch. For non-nullable lat/lng columns (the flagship
    path) Catalyst constant-folds the IS NULL branches away — zero cost."""
    expr = sqlgen.cell_sql(lat, lng, res)
    return pages.withColumn(
        out, F.expr(f'CASE WHEN {lat} IS NULL OR {lng} IS NULL '
                    f'THEN CAST(-1 AS BIGINT) '
                    f'ELSE coalesce({expr}, CAST(-1 AS BIGINT)) END'))


def cover_cells_rect(regions: DataFrame, res: int) -> DataFrame:
    """Explode rectangle regions into (region cols…, cell) cover rows.

    Mirrors kernels.cells.cover_rect with sequence()+explode so the whole
    cover generation stays in the JVM.
    """
    nx, ny = cells.dims(res)
    iy0 = sqlgen.lat_cell_row_sql('maxlat', res)
    iy1 = sqlgen.lat_cell_row_sql('minlat', res)
    ix0 = sqlgen.lng_cell_col_sql('minlng', res)
    ix1 = sqlgen.lng_cell_col_sql('maxlng', res)
    return (
        regions
        .withColumn('_iy', F.explode(F.expr(f'sequence({iy0}, {iy1})')))
        .withColumn('_ix', F.explode(F.expr(f'sequence({ix0}, {ix1})')))
        .withColumn('cell', F.expr(f'_iy * {nx} + _ix'))
        .drop('_iy', '_ix')
    )


def pip_join_rect(pages: DataFrame, regions: DataFrame, res: int) -> DataFrame:
    """pages ⨝ rectangle-regions, point-in-rect.

    Returns one row per (page, containing region). The equi-join on cell
    prunes candidates; the BETWEEN refine is exact. Each page has exactly
    one cell and cover cells are distinct per region, so no dedup is needed.
    """
    joined = assign_cell(pages, res).join(
        F.broadcast(cover_cells_rect(regions, res)), 'cell')
    return joined.where(
        (F.col('lat') >= F.col('minlat')) & (F.col('lat') <= F.col('maxlat')) &
        (F.col('lng') >= F.col('minlng')) & (F.col('lng') <= F.col('maxlng')))


def pip_join_wkb(pages: DataFrame, regions: DataFrame, res: int) -> DataFrame:
    """pages ⨝ arbitrary-polygon regions (WKB), exact point-in-polygon.

    regions: (region_id, wkb binary, minlat, minlng, maxlat, maxlng).
    Candidate pruning = bbox cover-cell equi-join (JVM); exact refine =
    Arrow-batched pandas UDF running the vectorized ray-casting kernel
    (kernels.geometry.points_in_wkb) with a per-batch decode cache — the
    distributed generalization of the reference's one-polygon-at-a-time
    ``SetSpatialFilter`` + Intersection scan
    (reference: buzzard/_a_gdal_vector.py:45-103).
    """
    @F.pandas_udf('boolean')
    def _pip(lat: pd.Series, lng: pd.Series, wkb: pd.Series) -> pd.Series:
        from buzzard_spark.kernels import geometry

        out = np.zeros(len(lat), dtype=bool)
        lat_v = lat.to_numpy(dtype=np.float64)
        lng_v = lng.to_numpy(dtype=np.float64)
        # vectorize per distinct polygon in the batch
        for buf, idx in wkb.groupby(wkb, sort=False).indices.items():
            out[idx] = geometry.points_in_wkb(lng_v[idx], lat_v[idx], buf)
        return pd.Series(out)

    # cheap bbox refine first (codegen), exact PIP only on bbox survivors
    return pip_join_rect(pages, regions, res).where(
        _pip(F.col('lat'), F.col('lng'), F.col('wkb')))


def pip_count_by_region(pages: DataFrame, regions: DataFrame,
                        res: int) -> DataFrame:
    """Pages-per-region — the flagship slice query (SURVEY.md §7.1 step 3).

    The groupBy after the refine is a partial-aggregated (map-side combine)
    count keyed by region_id — tiny shuffle even at full scale.
    """
    return (
        pip_join_rect(pages, regions, res)
        .groupBy('region_id')
        .agg(F.count('*').alias('page_count'))
    )
