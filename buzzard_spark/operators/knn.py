"""kNN via cell-ring expansion (north_rule operator).

Plan shape for a batch of at most ``MAX_QUERIES`` queries (serving):

1. one Arrow trip fetches the batch (``session.fetch``, one job); a
   larger batch raises ``ValueError`` — split the query table;
2. the driver builds the ring side — every query's ring-``k_ring`` cells
   (``cells.cell_of`` + ``cells.ring``: longitude wraps, latitude clips)
   — as an Arrow-built local relation (:func:`driver_rings`). Spark sees
   its true size and broadcasts it against the pages: the page table is
   never shuffled (:func:`ring_join`);
3. exact distance + per-query top-k via ROW_NUMBER over (dist2, page_id)
   — deterministic tie-breaking — fetched through Arrow;
4. geometric guarantee check, on the driver: a page outside ring r is at
   least r·min(cell_w, cell_h) degrees away, so a query is *settled* iff
   it found k candidates with kth distance² < (r·min(cw,ch))²; the
   unsettled queries (sparse neighborhoods, the poles) re-run steps 2-4
   one cell resolution coarser with the same ring radius, and at
   resolution 0 with the radius doubled, until the ring covers the grid
   and holds every page. A round holds at most max((2·k_ring+1)², 32)
   ring cells per query, over at most ``res`` + 5 rounds;
5. the result is a local relation: nothing is persisted, no checkpoint
   file is written, and the caller's collect runs no Spark job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from buzzard_spark.kernels import cells
from buzzard_spark.operators.spatial_join import assign_cell
from buzzard_spark.session import fetch, local_frame

DIST2 = ('(lat - qlat) * (lat - qlat) + (lng - qlng) * (lng - qlng)')
OUT_COLS = ('qid', 'page_id', 'dist2', 'rnk')
# the largest query batch one call serves: the batch, its rings and its
# top-k are all held on the driver
MAX_QUERIES = 100_000


def ring_cells(queries: DataFrame, res: int, k_ring: int) -> DataFrame:
    """Explode each query row into its ring-``k_ring`` candidate cells, in
    SQL: the reference that ``test_driver_rings_match_ring_cells`` checks
    :func:`driver_rings` against, and the candidate count perfbench's
    ``KnnServe.trace_counts`` reports.

    The candidate set is built as an ``array_distinct`` array before the
    explode (pure expression, no shuffle): when ``2*k_ring + 1 > nx`` the
    longitude pmod wrap would otherwise emit duplicate cells, seating the
    same page in several top-k slots downstream.
    """
    nx, ny = cells.dims(res)
    q = assign_cell(queries, res, lat='qlat', lng='qlng', out='qcell')
    q = q.withColumn('_qx', F.expr(f'qcell % {nx}')) \
         .withColumn('_qy', F.expr(f'qcell DIV {nx}'))
    cand = (
        f'array_distinct(flatten(transform('
        f'sequence(GREATEST(_qy - {k_ring}, 0L), LEAST(_qy + {k_ring}, {ny - 1}L)), '
        f'yy -> transform(sequence(_qx - {k_ring}, _qx + {k_ring}), '
        f'xx -> yy * {nx} + pmod(xx, {nx})))))')
    q = q.withColumn('cell', F.explode(F.expr(cand)))
    return q.drop('_qx', '_qy')


def driver_rings(spark, batch, schema: StructType, res: int,
                 k_ring: int) -> DataFrame:
    """The ring side: one (qid, qlat, qlng, cell) row per
    query and ring cell, the cells of :func:`ring_cells` computed on the
    driver, as a local relation. ``batch`` is the fetched pandas frame of
    ``schema``'s (qid, qlat, qlng), with no NULL coordinate."""
    rings = [cells.ring(c, k_ring, res) for c in cells.cell_of(
        batch['qlat'].to_numpy(np.float64),
        batch['qlng'].to_numpy(np.float64), res)]
    frame = batch.loc[batch.index.repeat([len(r) for r in rings])].assign(
        cell=np.concatenate(rings or [np.empty(0, np.int64)]))
    return local_frame(spark, frame, StructType(
        list(schema.fields) + [StructField('cell', LongType(), False)]))


def ring_join(rings: DataFrame, pages_c: DataFrame) -> DataFrame:
    """Candidate (query, page) pairs: the ring side equi-joined to the
    cell-assigned pages on ``cell``."""
    return rings.join(pages_c, 'cell').select(
        'qid', 'qlat', 'qlng', 'page_id', 'lat', 'lng')


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy('qid').orderBy(F.col('dist2').asc(), F.col('page_id').asc())
    return (cand
            .withColumn('dist2', F.expr(DIST2))
            .withColumn('rnk', F.row_number().over(w))
            .where(F.col('rnk') <= k))


def _covers_grid(r: int, res: int) -> bool:
    # a ring this wide covers every cell (lat clips, lng wraps): its
    # candidates are the full corpus — exact by construction
    nx, ny = cells.dims(res)
    return r >= max(ny - 1, nx // 2 + 1)


def _guarantee(r: int, res: int) -> float:
    # a page outside ring r is at least r·min(cw, ch) away; settle with a
    # strict `<`: at kth == guarantee an outside-ring page could tie
    cw, ch = cells.cell_size_deg(res)
    return (r * min(cw, ch)) ** 2


def knn(pages: DataFrame, queries: DataFrame, k: int, res: int,
        k_ring: int = 2) -> DataFrame:
    """queries(qid, qlat, qlng) × pages(page_id, lat, lng) → top-k rows
    (qid, page_id, dist2, rnk). Exact — ring rounds, each settling the
    queries its guarantee covers, the rest coarsened until the ring covers
    the grid. A query with a NULL coordinate returns no row, as a page
    with one joins no cell.

    One capped fetch bounds the driver trip: a batch of more than
    ``MAX_QUERIES`` queries raises ``ValueError`` (module docstring).
    """
    spark = queries.sparkSession
    q = queries.select('qid', 'qlat', 'qlng')
    batch = fetch(q, MAX_QUERIES, 'knn.MAX_QUERIES').dropna(
        subset=['qlat', 'qlng'])
    r, parts = k_ring, []
    while True:
        rings = driver_rings(spark, batch, q.schema, res, r)
        topk_df = _topk(ring_join(rings, assign_cell(pages, res)), k) \
            .select(*OUT_COLS)
        top = topk_df.toPandas()
        if _covers_grid(r, res):
            parts.append(top)
            break
        stats = top.groupby('qid').agg(found=('rnk', 'max'),
                                       kth=('dist2', 'max'))
        settled = stats.index[(stats['found'] == k)
                              & (stats['kth'] < _guarantee(r, res))]
        parts.append(top[top['qid'].isin(settled)])
        batch = batch[~batch['qid'].isin(settled)]
        if not len(batch):
            break
        # a coarser cell widens the ring's reach at the same cell count;
        # at res 0 only a wider ring can
        res, r = (res - 1, r) if res else (0, max(2 * r, 1))
    return local_frame(spark, pd.concat(parts, ignore_index=True),
                       topk_df.schema)
