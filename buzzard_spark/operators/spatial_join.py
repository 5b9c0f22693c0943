"""Distributed spatial join: cell-indexed point-in-polygon.

The Spark-first generalization of buzzard's single-machine overlay
(reference: buzzard/_a_gdal_vector.py:94-103 ``SetSpatialFilter`` +
buzzard/_footprint.py:421 ``intersection``): instead of filtering one
polygon at a time against one OGR layer, the engine

1. assigns every page its equirectangular cell (JVM-side arithmetic —
   whole-stage codegen, no Python),
2. explodes each region into its cover cells (sequence() + explode, also
   JVM-side),
3. equi-joins on cell — broadcast when the cover is small, shuffle hash
   join with AQE skew handling otherwise,
4. refines exactly with the geometric predicate.

At 10^12-page scale the shuffle is keyed by cell, so hot cells (dense
regions) are the skew risk: AQE skew-join splitting is enabled in
session config; for pathological dimension-side fanout use
``salt`` > 1 to spread each cover cell over N join keys.

The filter-then-refine shape (rasterized cell signature as the join
key, exact geometric predicate as the verify) is the published design
point for distributed polygon joins — "Raster Intervals" (SIGMOD'23)
builds the same approximation from interval-coded raster cells; this
engine's equivalent is the cover-cell equi-join (+ :func:`compact_cells`
for mixed-resolution signatures).
"""

from __future__ import annotations

import numpy as np
import math

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


def cover_cells_rect(regions: DataFrame, res: int, salt: int = 1) -> DataFrame:
    """Explode rectangle regions into (region cols…, cell) cover rows.

    Mirrors kernels.cells.cover_rect with sequence()+explode so the whole
    cover generation stays in the JVM. With ``salt`` > 1 each cover cell is
    replicated into N salted keys (cell*salt+i) for skew spreading — pages
    must then join on (cell*salt + pmod(hash, salt)).
    """
    nx, ny = cells.dims(res)
    iy0 = sqlgen.lat_cell_row_sql('maxlat', res)
    iy1 = sqlgen.lat_cell_row_sql('minlat', res)
    ix0 = sqlgen.lng_cell_col_sql('minlng', res)
    ix1 = sqlgen.lng_cell_col_sql('maxlng', res)
    out = (
        regions
        .withColumn('_iy', F.explode(F.expr(f'sequence({iy0}, {iy1})')))
        .withColumn('_ix', F.explode(F.expr(f'sequence({ix0}, {ix1})')))
        .withColumn('cell', F.expr(f'_iy * {nx} + _ix'))
        .drop('_iy', '_ix')
    )
    if salt > 1:
        out = (
            out
            .withColumn('_s', F.explode(F.expr(f'sequence(0, {salt - 1})')))
            .withColumn('cell', F.expr(f'cell * {salt} + _s'))
            .drop('_s')
        )
    return out


def pip_join_rect(pages: DataFrame, regions: DataFrame, res: int,
                  broadcast_cover: bool = True, salt: int = 1) -> DataFrame:
    """pages ⨝ rectangle-regions, point-in-rect.

    Returns one row per (page, containing region). The equi-join on cell
    prunes candidates; the BETWEEN refine is exact. Each page has exactly
    one cell and cover cells are distinct per region, so no dedup is needed.
    """
    pages_c = assign_cell(pages, res)
    if salt > 1:
        pages_c = pages_c.withColumn(
            'cell', F.expr(f'cell * {salt} + pmod(hash(lat, lng), {salt})'))
    cover = cover_cells_rect(regions, res, salt=salt)
    if broadcast_cover:
        cover = F.broadcast(cover)
    joined = pages_c.join(cover, 'cell')
    return joined.where(
        (F.col('lat') >= F.col('minlat')) & (F.col('lat') <= F.col('maxlat')) &
        (F.col('lng') >= F.col('minlng')) & (F.col('lng') <= F.col('maxlng')))


def pip_join_wkb(pages: DataFrame, regions: DataFrame, res: int,
                 broadcast_cover: bool = True) -> DataFrame:
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

    pages_c = assign_cell(pages, res)
    cover = cover_cells_rect(regions, res)
    if broadcast_cover:
        cover = F.broadcast(cover)
    joined = pages_c.join(cover, 'cell')
    # cheap bbox refine first (codegen), exact PIP only on bbox survivors
    joined = joined.where(
        (F.col('lat') >= F.col('minlat')) & (F.col('lat') <= F.col('maxlat')) &
        (F.col('lng') >= F.col('minlng')) & (F.col('lng') <= F.col('maxlng')))
    return joined.where(_pip(F.col('lat'), F.col('lng'), F.col('wkb')))


def pip_count_by_region(pages: DataFrame, regions: DataFrame, res: int,
                        **kwargs) -> DataFrame:
    """Pages-per-region — the flagship slice query (SURVEY.md §7.1 step 3).

    The groupBy after the refine is a partial-aggregated (map-side combine)
    count keyed by region_id — tiny shuffle even at full scale.
    """
    return (
        pip_join_rect(pages, regions, res, **kwargs)
        .groupBy('region_id')
        .agg(F.count('*').alias('page_count'))
    )


def rect_overlap_pairs(regions: DataFrame, res: int,
                       id_col: str = 'region_id') -> DataFrame:
    """Polygon-polygon (bbox) overlap SELF-join via shared cover cells —
    the region-to-region analogue of the page-to-region PIP join.

    Candidates: two rectangles that overlap both cover the cell
    containing any point of their (non-empty) intersection, so a cover ⋈
    cover equi-join on the cell id has EXACT recall — never a cross join,
    and per-cell fan-out is bounded by the cover density at ``res``
    (AQE's skew handling applies to hot cells exactly as in the PIP
    join). Verify: the exact inclusive bbox-intersection predicate on
    the pair (boundary touch counts as overlap; the oracle evaluates the
    identical predicate, so the contract is engine-exact).

    Output: (id_a, id_b), id_a < id_b, distinct.
    """
    cov = cover_cells_rect(regions, res).select(
        F.col(id_col).alias('_id'), 'cell',
        'minlat', 'maxlat', 'minlng', 'maxlng')
    a = cov.alias('a')
    b = cov.alias('b')
    return (a.join(b, (F.col('a.cell') == F.col('b.cell')) &
                   (F.col('a._id') < F.col('b._id')))
            .where((F.col('a.minlat') <= F.col('b.maxlat')) &
                   (F.col('b.minlat') <= F.col('a.maxlat')) &
                   (F.col('a.minlng') <= F.col('b.maxlng')) &
                   (F.col('b.minlng') <= F.col('a.maxlng')))
            .select(F.col('a._id').alias('id_a'),
                    F.col('b._id').alias('id_b'))
            .distinct())


def distance_pairs(pages: DataFrame, eps: float, res: int,
                   id_col: str = 'page_id',
                   lat: str = 'lat', lng: str = 'lng') -> DataFrame:
    """Spatial ε-join (within-distance self-join): all unordered pairs of
    pages at planar distance ≤ ``eps`` degrees, as::

        (id_a, id_b, dist2)     -- id_a < id_b, dist2 = squared distance

    the third of the classic spatial-join triad (PIP join, kNN,
    distance join — the reference answers it array-side via
    ``Footprint.dilate`` + mask intersection; here it is the grid-file
    blocking join of the published spatial-join literature).

    Plan shape: one cell assignment at resolution ``res``, the LEFT side
    exploded to the ``(2kx+1)·(2ky+1)`` neighbor cells that can hold a
    point within ``eps`` (kx/ky from the cell dims — exactness is
    guaranteed, not probabilistic), ONE equi-join on the cell id, exact
    distance filter, ``id_a < id_b`` to collapse the two orientations
    each pair appears in. No distinct needed: a pair is emitted exactly
    once because the right side sits on its OWN cell (each (a, b) join
    hit is unique per orientation).

    Distance is planar squared-degrees (the engine's kNN metric —
    :data:`buzzard_spark.operators.knn.DIST2`), exact in IEEE doubles so
    the DuckDB oracle matches bit-for-bit. NULL coordinates drop out via
    the −1 sentinel (:func:`assign_cell` contract — the exploded ring
    of a sentinel row stays negative and matches nothing).

    Scale shape (10^12 pages): output size is inherently quadratic in
    local density — pick ``res`` so the typical cell holds O(1/eps²)
    points (cells ≈ eps wide ⇒ the ring is 3×3 and each point meets only
    its true neighborhood). Hot cells (urban skew) inflate one join key;
    AQE skew-join splits them, and the ring explosion is on the SMALLER
    exploded side (factor ≤ 9 at the recommended res), never the raw
    corpus twice.
    """
    if eps <= 0:
        raise ValueError(f'eps must be > 0: {eps}')
    cw, ch = cells.cell_size_deg(res)
    kx = int(math.ceil(eps / cw))
    ky = int(math.ceil(eps / ch))
    nx, ny = cells.dims(res)
    a = assign_cell(pages, res, lat=lat, lng=lng, out='_c') \
        .select(F.col(id_col).alias('id_a'), F.col(lat).alias('_alat'),
                F.col(lng).alias('_alng'), '_c') \
        .withColumn('_ax', F.expr(f'_c % {nx}')) \
        .withColumn('_ay', F.expr(f'_c DIV {nx}'))
    # neighbor cells WITHOUT longitude wrap (planar metric: the distance
    # filter is planar, so a wrapped cell could never pass it anyway);
    # sentinel rows (_c = -1 -> _ay = -1) produce no in-range cells
    ring = (f'CASE WHEN _c < 0 THEN array(CAST(-1 AS BIGINT)) ELSE '
            f'flatten(transform('
            f'sequence(GREATEST(_ay - {ky}, 0L), LEAST(_ay + {ky}, {ny - 1}L)), '
            f'yy -> transform('
            f'sequence(GREATEST(_ax - {kx}, 0L), LEAST(_ax + {kx}, {nx - 1}L)), '
            f'xx -> yy * {nx} + xx))) END')
    a = (a.withColumn('cell', F.explode(F.expr(ring)))
         .where(F.col('cell') >= 0)
         .drop('_c', '_ax', '_ay'))
    b = assign_cell(pages, res, lat=lat, lng=lng, out='cell') \
        .select(F.col(id_col).alias('id_b'), F.col(lat).alias('_blat'),
                F.col(lng).alias('_blng'), 'cell') \
        .where(F.col('cell') >= 0)
    d2 = ('(_alat - _blat) * (_alat - _blat) + '
          '(_alng - _blng) * (_alng - _blng)')
    el = sqlgen.dlit(eps)
    return (a.join(b, 'cell')
            .where(F.col('id_a') < F.col('id_b'))
            .where(F.expr(f'{d2} <= {el} * {el}'))
            .select('id_a', 'id_b', F.expr(d2).alias('dist2')))


def distance_pairs_oracle_sql(pages_cte: str, eps: float,
                              id_col: str = 'page_id',
                              lat: str = 'lat', lng: str = 'lng') -> str:
    """DuckDB twin of :func:`distance_pairs`: brute-force all-pairs with
    the identical planar dist2 expression (exact IEEE arithmetic both
    sides; NULL coordinates drop via the inequality)."""
    d2 = (f'(a.{lat} - b.{lat}) * (a.{lat} - b.{lat}) + '
          f'(a.{lng} - b.{lng}) * (a.{lng} - b.{lng})')
    el = sqlgen.dlit(eps)
    return (f'WITH p AS ({pages_cte}) '
            f'SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, '
            f'{d2} AS dist2 FROM p a JOIN p b '
            f'ON a.{id_col} < b.{id_col} '
            f'WHERE {d2} <= {el} * {el}')


def nearest_region(pages: DataFrame, centroids: DataFrame,
                   id_col: str = 'page_id',
                   lat: str = 'lat', lng: str = 'lng') -> DataFrame:
    """Nearest-centroid assignment (reverse geocode / nearest facility):
    each page gets the region whose centroid minimizes planar squared
    distance, ties broken by LOWEST region_id::

        (page_id, region_id, dist2)

    ``centroids``: (region_id, clat, clng) — a DIMENSION table (hundreds
    to a few thousand rows; facilities, admin centroids, cluster seeds).

    Scale shape — the reason this is NOT a join: a broadcast cross join
    + groupBy(page_id) argmin would shuffle 10^12 rows on page_id just
    to undo a ×k blowup it created. Instead the centroid table is
    collected driver-side (it is a dimension — same budget as a
    broadcast) and folded into ONE Catalyst ``aggregate()`` expression:
    a literal array of (rid, clat, clng) structs scanned per row inside
    whole-stage codegen. Zero joins, zero shuffles, zero Python — the
    operator is a pure map over the corpus scan, and the plan audit
    pins it. Strict ``<`` in the fold keeps the first (lowest-id)
    centroid on exact ties, matching the oracle's (dist2, region_id)
    ordering. NULL coordinates return the −1 sentinel (the
    :func:`assign_cell` convention). k is capped at 4096 (expression
    size); beyond that, index the centroids and use :mod:`.knn`.
    """
    from buzzard_spark.functions.sqlgen import dlit
    rows = sorted(centroids.select('region_id', 'clat', 'clng').collect(),
                  key=lambda r: int(r['region_id']))
    if not rows:
        raise ValueError('nearest_region: empty centroid table')
    if len(rows) > 4096:
        raise ValueError(
            f'nearest_region: {len(rows)} centroids — the literal-fold '
            'plan is for dimension-sized tables (<= 4096); use knn')
    lits = ', '.join(
        "named_struct('rid', CAST({rid} AS BIGINT), 'clat', {la}, "
        "'clng', {ln})".format(rid=int(r['region_id']),
                               la=dlit(float(r['clat'])),
                               ln=dlit(float(r['clng'])))
        for r in rows)
    d2 = (f'({lat} - c.clat) * ({lat} - c.clat) + '
          f'({lng} - c.clng) * ({lng} - c.clng)')
    # NOTE (round 6, measured): an array_min-over-scored-structs rewrite
    # (one d2 eval per centroid instead of two) was interleave-A/B'd at
    # sf0.1 and lost to this fold (0.41 vs 0.36 s min) — the per-centroid
    # struct allocation costs more than the second interpreted d2 eval.
    # nearest_k_refs is different: there the rewrite removes a per-step
    # SORT, which dominates. Kept as-is.
    fold = (
        f"aggregate(array({lits}), "
        f"named_struct('rid', CAST(-1 AS BIGINT), "
        f"'d2', CAST('Infinity' AS DOUBLE)), "
        f'(acc, c) -> CASE WHEN {d2} < acc.d2 THEN '
        f"named_struct('rid', c.rid, 'd2', {d2}) ELSE acc END)")
    return pages.select(
        F.col(id_col),
        F.expr(fold).alias('_nn')
    ).select(id_col,
             F.col('_nn.rid').alias('region_id'),
             F.when(F.col('_nn.rid') >= 0, F.col('_nn.d2'))
             .alias('dist2'))


def nearest_region_oracle_sql(pages_cte: str, centroids_cte: str,
                              id_col: str = 'page_id',
                              lat: str = 'lat', lng: str = 'lng') -> str:
    """DuckDB twin of :func:`nearest_region`: cross join + window argmin
    ordered by (dist2, region_id) — identical IEEE dist2 arithmetic."""
    d2 = (f'(p.{lat} - c.clat) * (p.{lat} - c.clat) + '
          f'(p.{lng} - c.clng) * (p.{lng} - c.clng)')
    return (f'WITH p AS ({pages_cte}), c AS ({centroids_cte}), '
            f'x AS (SELECT p.{id_col} AS {id_col}, c.region_id, '
            f'{d2} AS dist2, ROW_NUMBER() OVER (PARTITION BY p.{id_col} '
            f'ORDER BY {d2}, c.region_id) AS rn FROM p CROSS JOIN c) '
            f'SELECT {id_col}, region_id, dist2 FROM x WHERE rn = 1')


def quadtree_leaves(pages: DataFrame, cap: int, max_res: int,
                    res0: int = 0, lat: str = 'lat',
                    lng: str = 'lng') -> DataFrame:
    """Adaptive quadtree decomposition of the page distribution: the
    variable-resolution cell grid in which every leaf holds ≤ ``cap``
    pages — EXCEPT forced leaves at ``max_res`` that stay hot (a
    same-coordinate flood no split can separate). The data-driven form
    of the reference's fixed ``Footprint.tile`` grid, and the standard
    skew answer for spatial indexing: dense cities split deep, oceans
    stay coarse. Returns non-empty leaves only::

        (res, cell, n_pages)

    A cell at resolution r (res0 < r ≤ max_res) is a leaf iff its count
    is ≤ cap and its PARENT's count is > cap (the parent split); a
    res0 cell is a leaf iff its count is ≤ cap; a max_res cell with
    count > cap is a forced leaf. Every page lies in exactly one leaf.

    Scale shape: ONE corpus-wide shuffle — the groupBy at ``max_res``;
    every coarser level aggregates the level below (hierarchical
    rollup: log-depth chain of exponentially shrinking aggs, never the
    corpus again), and the leaf tests join each level's counts with its
    parent level's (dimension-sized, AQE broadcasts them). NULL
    coordinates drop out via the −1 sentinel.
    """
    if not (0 <= res0 <= max_res):
        raise ValueError(f'need 0 <= res0 <= max_res: {res0}, {max_res}')
    if cap < 1:
        raise ValueError(f'cap must be >= 1: {cap}')
    # Single-pass level table (round-6 restructure): one corpus-keyed
    # shuffle at max_res, then EVERY level's counts come from ONE
    # ancestor-explode + groupBy over the grid-bounded fine-cell table —
    # the round-5 cascade materialized (and persisted) max_res−res0+1
    # per-level aggregates and ran a semi-join per level, a chain of
    # K exchanges whose job cadence dominated. Same total aggregation
    # work (Σ 4^-k of the fine table either way), K× fewer stages. The
    # closed-form ancestor (÷2^(r−q) per axis) is the grid's power-of-two
    # nesting, identical to the chained parent arithmetic.
    fine = (assign_cell(pages, max_res, lat=lat, lng=lng, out='cell')
            .where(F.col('cell') >= 0)
            .groupBy('cell').agg(F.count('*').alias('n_pages')))
    nx_fine, _ = cells.dims(max_res)

    def anc(q: int) -> str:
        sh = 1 << (max_res - q)
        nx_q, _ = cells.dims(q)
        return (f'((cell DIV {nx_fine}) DIV {sh}) * {nx_q} + '
                f'(cell % {nx_fine}) DIV {sh}')

    structs = []
    for q in range(res0, max_res + 1):
        par = anc(q - 1) if q > res0 else 'CAST(NULL AS BIGINT)'
        structs.append(f"named_struct('lvl', {q}, 'c', {anc(q)}, "
                       f"'par', {par})")
    lv = (fine.select(F.explode(F.expr(
              'array(' + ', '.join(structs) + ')')).alias('s'), 'n_pages')
          .select(F.col('s.lvl').alias('lvl'), F.col('s.c').alias('cell'),
                  F.col('s.par').alias('par'), 'n_pages')
          .groupBy('lvl', 'cell', 'par')
          .agg(F.sum('n_pages').alias('n_pages'))
          .persist())
    hot = lv.where(F.col('n_pages') > cap).select(
        F.col('lvl').alias('_l'), F.col('cell').alias('_pc'))
    root = (lv.where((F.col('lvl') == res0) & (F.col('n_pages') <= cap)))
    children = (lv.where(F.col('lvl') > res0)
                .join(hot, (F.col('lvl') - 1 == F.col('_l')) &
                           (F.col('par') == F.col('_pc')), 'left_semi')
                .where((F.col('n_pages') <= cap)
                       | (F.col('lvl') == max_res)))
    out = (root.unionByName(children)
           .select(F.col('lvl').cast('int').alias('res'), 'cell',
                   'n_pages'))
    from buzzard_spark.session import checkpoint_release
    return checkpoint_release(out, [lv])


def quadtree_leaves_oracle_sql(pages_cte: str, cap: int, max_res: int,
                               res0: int = 0, lat: str = 'lat',
                               lng: str = 'lng') -> str:
    """DuckDB twin of :func:`quadtree_leaves`: per-level count CTEs
    (same cell arithmetic via sqlgen) + the identical leaf predicate."""
    from buzzard_spark.functions import sqlgen as _sq
    ctes = ['p AS ({})'.format(pages_cte)]
    ctes.append('c{r} AS (SELECT {cell} AS cell, COUNT(*) AS n_pages '
                'FROM p GROUP BY 1)'.format(
                    r=max_res, cell=_sq.cell_sql(lat, lng, max_res)))
    for r in range(max_res - 1, res0 - 1, -1):
        nx_child, _ = cells.dims(r + 1)
        nx_par, _ = cells.dims(r)
        ctes.append(
            'c{r} AS (SELECT ((cell // {nxc}) // 2) * {nxp} + '
            '(cell % {nxc}) // 2 AS cell, SUM(n_pages) AS n_pages '
            'FROM c{r1} GROUP BY 1)'.format(
                r=r, r1=r + 1, nxc=nx_child, nxp=nx_par))
    sel = []
    for r in range(res0, max_res + 1):
        if r == res0:
            sel.append('SELECT {r} AS res, cell, '
                       'CAST(n_pages AS BIGINT) AS n_pages FROM c{r} '
                       'WHERE n_pages <= {cap}'.format(r=r, cap=cap))
        else:
            nx_child, _ = cells.dims(r)
            nx_par, _ = cells.dims(r - 1)
            cond = ('n_pages <= {cap}'.format(cap=cap)
                    if r < max_res else 'TRUE')
            sel.append(
                'SELECT {r} AS res, c.cell, '
                'CAST(c.n_pages AS BIGINT) AS n_pages FROM c{r} c '
                'SEMI JOIN (SELECT cell FROM c{rp} WHERE n_pages > {cap}) '
                'h ON ((c.cell // {nxc}) // 2) * {nxp} + '
                '(c.cell % {nxc}) // 2 = h.cell WHERE {cond}'.format(
                    r=r, rp=r - 1, cap=cap, nxc=nx_child, nxp=nx_par,
                    cond=cond))
    return 'WITH ' + ', '.join(ctes) + ' ' + ' UNION ALL '.join(sel)


def dbscan(pages: DataFrame, eps: float, min_pts: int, res: int,
           id_col: str = 'page_id',
           lat: str = 'lat', lng: str = 'lng') -> DataFrame:
    """Exact distributed DBSCAN over the cell grid — every page labeled::

        (id_col, cluster, role)   -- role in ('core', 'border', 'noise')
                                  -- cluster = min CORE member id, -1 noise

    Classic DBSCAN (Ester et al., KDD'96) with the one determinism fix a
    cross-engine value check requires: a border point in reach of several
    clusters is order-dependent in the original scan algorithm; here it
    joins the cluster with the SMALLEST label (min over its core
    neighbors) — a canonical choice independent of partitioning, retries
    and visit order. Core/noise labels are order-free already (density is
    a pure neighborhood count), so the whole labeling is deterministic.

    Plan shape (all exact, nothing sampled):

    1. ε-pairs via :func:`distance_pairs` — the grid-file blocking join
       (one equi-join on the cell ring, no crossJoin), persisted once and
       scanned three times (degree count, core subgraph, border vote).
    2. density: |N_eps(p)| = pair-degree + 1 (self); core iff ≥ min_pts.
    3. clusters: connected components over the CORE-CORE pair subgraph
       (:func:`buzzard_spark.operators.graph.connected_components` —
       large-star/small-star, driver fast path on small graphs).
    4. border: non-core pages vote min(cluster) over core ε-neighbors.
    5. everything else is noise (cluster −1) — including NULL-coordinate
       pages, whose −1 cell sentinel produced no pairs (assign_cell
       contract), matching the oracle's NULL-comparison dropout exactly.

    Scale shape (10^12 pages): the ε-graph is the output-sized object —
    pick ``res`` so a cell is ≈ ε wide (distance_pairs docstring); dense
    urban cores inflate pair counts quadratically in LOCAL density only,
    AQE splits the hot cells, and the CC runs on the core subgraph, which
    real corpora keep far smaller than the page table. One reliable
    checkpoint materializes the labeling and releases every intermediate
    (the engine's cache-lifetime contract).

    The reference clusters density the array way — ``Footprint.dilate``
    + mask convolution (buzzard/_footprint.py:692) on a rasterized layer;
    this is the vector-native equivalent over the same cell algebra.
    """
    if min_pts < 2:
        raise ValueError(f'min_pts must be >= 2: {min_pts}')
    from buzzard_spark.operators.graph import connected_components
    from buzzard_spark.session import checkpoint_release

    pairs = (distance_pairs(pages, eps, res, id_col=id_col,
                            lat=lat, lng=lng)
             .select('id_a', 'id_b').persist())
    both = pairs.unionAll(pairs.select(F.col('id_b').alias('id_a'),
                                       F.col('id_a').alias('id_b'))) \
        .toDF('id', 'nb')
    # the core set has THREE join consumers (core_edges twice, the border
    # anti-join once) — persist it so the degree aggregate over the pair
    # table runs once instead of once per consumer; released through the
    # query's one reliable checkpoint like the pair table itself
    core = (both.groupBy('id').count()
            .where(F.col('count') + 1 >= min_pts).select('id').persist())
    core_edges = (pairs
                  .join(core.withColumnRenamed('id', 'id_a'), 'id_a')
                  .join(core.withColumnRenamed('id', 'id_b'), 'id_b'))
    reg: list = [pairs, core]
    comp = connected_components(core.withColumnRenamed('id', 'node'),
                                core_edges, cache_registry=reg)
    core_lab = comp.select(F.col('node').alias('id'),
                           F.col('comp').alias('cluster'),
                           F.lit('core').alias('role'))
    border = (both
              .join(core_lab.select(F.col('id').alias('nb'), 'cluster'),
                    'nb')
              .join(core, 'id', 'left_anti')
              .groupBy('id').agg(F.min('cluster').alias('cluster'))
              .withColumn('role', F.lit('border')))
    labeled = core_lab.unionByName(border)
    out = (pages.select(F.col(id_col).alias('id'))
           .join(labeled, 'id', 'left')
           .select(F.col('id').alias(id_col),
                   F.coalesce('cluster', F.lit(-1)).alias('cluster'),
                   F.coalesce('role', F.lit('noise')).alias('role')))
    return checkpoint_release(out, reg)


def dbscan_oracle_sql(pages_cte: str, eps: float, min_pts: int,
                      id_col: str = 'page_id',
                      lat: str = 'lat', lng: str = 'lng') -> str:
    """DuckDB twin of :func:`dbscan`: brute-force ε-pairs, recursive-CTE
    transitive closure over the core subgraph, min-label border vote.
    All-integer labels and exact IEEE distance arithmetic — hash-exact."""
    el = sqlgen.dlit(eps)
    d2 = (f'(a.{lat} - b.{lat}) * (a.{lat} - b.{lat}) + '
          f'(a.{lng} - b.{lng}) * (a.{lng} - b.{lng})')
    return (
        f'WITH RECURSIVE p AS ({pages_cte}), '
        f'e AS (SELECT a.{id_col} AS ia, b.{id_col} AS ib FROM p a '
        f'JOIN p b ON a.{id_col} < b.{id_col} '
        f'WHERE {d2} <= {el} * {el}), '
        'bi AS (SELECT ia AS id, ib AS nb FROM e '
        'UNION ALL SELECT ib, ia FROM e), '
        'core AS (SELECT id FROM bi GROUP BY id '
        f'HAVING COUNT(*) + 1 >= {min_pts}), '
        'ce AS (SELECT bi.id AS s, bi.nb AS d FROM bi '
        'WHERE bi.id IN (SELECT id FROM core) '
        'AND bi.nb IN (SELECT id FROM core)), '
        'reach(n, m) AS (SELECT id, id FROM core UNION '
        'SELECT r.n, ce.d FROM reach r JOIN ce ON ce.s = r.m), '
        'comp AS (SELECT n, MIN(m) AS c FROM reach GROUP BY n), '
        "corelab AS (SELECT n AS id, c AS cluster, 'core' AS role "
        'FROM comp), '
        'border AS (SELECT bi.id AS id, MIN(cl.cluster) AS cluster, '
        "'border' AS role FROM bi JOIN corelab cl ON cl.id = bi.nb "
        'WHERE bi.id NOT IN (SELECT id FROM core) GROUP BY bi.id), '
        'lab AS (SELECT * FROM corelab UNION ALL SELECT * FROM border) '
        f'SELECT p.{id_col} AS {id_col}, '
        'CAST(COALESCE(lab.cluster, -1) AS BIGINT) AS cluster, '
        "COALESCE(lab.role, 'noise') AS role "
        f'FROM p LEFT JOIN lab ON lab.id = p.{id_col}'
    )


def compact_cells(cell_set: DataFrame, res: int, min_res: int = 0) -> DataFrame:
    """Hierarchical cell compaction — the H3/S2 ``compact()`` analogue
    over the engine's quadtree grid: a set of cells at resolution ``res``
    (duplicates allowed; one ``distinct`` is applied) reduced to the
    minimal mixed-resolution cover::

        (res, cell)   -- every input cell lies under exactly one output
                      -- cell; a parent replaces its children iff ALL
                      -- FOUR are (recursively) fully present

    The exact dual of :func:`quadtree_leaves` (top-down split on a count
    cap): compaction is bottom-up on OCCUPANCY — the operation an index
    layer runs before storing a region's cover set or pruning a scan,
    where a fully-covered subtree costs one row instead of 4^depth.
    Compose with :func:`cover_cells_rect` (region covers — contiguous
    rectangles, the high-merge case) or :func:`assign_cell` (page sets).

    Plan shape: one distinct on the cell id, then ``res − min_res``
    cascaded ``groupBy(parent).count() = 4`` reductions (each level ≤ ¼
    the previous — a geometrically shrinking aggregation chain), then one
    anti-join per level against the level above to keep exactly the
    maximal full cells. All pure integer Catalyst arithmetic; each level
    is persisted for its two scans (parent rollup + anti-join) and a
    single reliable checkpoint releases the chain.

    Scale shape (10^12 pages): the expensive op is the FIRST distinct
    (shuffle keyed by cell — bounded by the grid size 32·4^res, not the
    corpus); every later level is ≤ ¼ of it, and the anti-joins join
    level r against the strictly smaller level r−1.

    Reference analogue: buzzard's minimal-tile covers from
    ``Footprint.tile_occurrence`` (buzzard/_footprint_tile.py) — the same
    contract, array-side on one machine.
    """
    if not 0 <= min_res <= res:
        raise ValueError(f'need 0 <= min_res <= res: {min_res}, {res}')
    from buzzard_spark.session import checkpoint_release

    # Single-pass level table (round-6 restructure, same scheme as
    # quadtree_leaves): a level-q ancestor is recursively full iff ALL
    # 4^(res−q) of its res-level descendants are present, so ONE
    # ancestor-explode + count over the distinct cell set yields every
    # level's full set at once — the round-5 cascade persisted one
    # COUNT(*)=4 aggregate per level and anti-joined per level (2K
    # exchanges for K levels; job cadence dominated). 4^(res−lvl) is
    # shiftleft(1, 2·(res−lvl)) — exact integer, and counts can only
    # reach it when every descendant is distinct-present (the input is
    # deduplicated first, exactly as before).
    occ = cell_set.select('cell').distinct()
    nx_fine = 8 << res

    def anc(q: int) -> str:
        sh = 1 << (res - q)
        nx_q = 8 << q
        return (f'((cell DIV {nx_fine}) DIV {sh}) * {nx_q} + '
                f'(cell % {nx_fine}) DIV {sh}')

    structs = []
    for q in range(min_res, res + 1):
        par = anc(q - 1) if q > min_res else 'CAST(NULL AS BIGINT)'
        structs.append(f"named_struct('lvl', {q}, 'c', {anc(q)}, "
                       f"'par', {par})")
    lv = (occ.select(F.explode(F.expr(
              'array(' + ', '.join(structs) + ')')).alias('s'))
          .select(F.col('s.lvl').alias('lvl'), F.col('s.c').alias('cell'),
                  F.col('s.par').alias('par'))
          .groupBy('lvl', 'cell', 'par').agg(F.count('*').alias('_n')))
    fulls = (lv.where(F.col('_n') ==
                      F.expr(f'shiftleft(1L, 2 * ({res} - lvl))'))
             .persist())
    covered = fulls.select(F.col('lvl').alias('_l'),
                           F.col('cell').alias('_c'))
    keep = (fulls.where(F.col('lvl') > min_res)
            .join(covered, (F.col('lvl') - 1 == F.col('_l')) &
                           (F.col('par') == F.col('_c')), 'left_anti'))
    out = (keep.select(F.col('lvl').alias('res'), 'cell')
           .unionByName(fulls.where(F.col('lvl') == min_res)
                        .select(F.col('lvl').alias('res'), 'cell')))
    return checkpoint_release(out, [fulls])


def compact_cells_oracle_sql(cells_cte: str, res: int,
                             min_res: int = 0) -> str:
    """DuckDB twin of :func:`compact_cells`: the same level cascade
    unrolled as one CTE per resolution (bounded — ``res − min_res``
    levels, each a GROUP BY HAVING COUNT(*) = 4 over the one below).
    ``cells_cte`` must yield a ``cell`` column at resolution ``res``."""
    def _parent_sql(r: int) -> str:
        nxc, nxp = 8 << r, 8 << (r - 1)
        return f'((cell // {nxc}) // 2) * {nxp} + (cell % {nxc}) // 2'

    ctes = [f'c{res} AS (SELECT DISTINCT cell FROM ({cells_cte}))']
    for r in range(res, min_res, -1):
        ctes.append(f'c{r - 1} AS (SELECT {_parent_sql(r)} AS cell '
                    f'FROM c{r} GROUP BY 1 HAVING COUNT(*) = 4)')
    sel = []
    for r in range(res, min_res, -1):
        sel.append(f'SELECT {r} AS res, cell FROM c{r} '
                   f'WHERE {_parent_sql(r)} NOT IN '
                   f'(SELECT cell FROM c{r - 1})')
    sel.append(f'SELECT {min_res} AS res, cell FROM c{min_res}')
    return 'WITH ' + ', '.join(ctes) + ' ' + ' UNION ALL '.join(sel)


def cover_cells_rect_oracle_sql(regions_cte: str, res: int) -> str:
    """DuckDB twin of :func:`cover_cells_rect` (salt = 1): enumerate each
    rectangle's cover cells with the identical clamped row/col arithmetic
    (sqlgen helpers are dialect-neutral), one row per (region, cell)."""
    nx, _ = cells.dims(res)
    iy0 = sqlgen.lat_cell_row_sql('maxlat', res)
    iy1 = sqlgen.lat_cell_row_sql('minlat', res)
    ix0 = sqlgen.lng_cell_col_sql('minlng', res)
    ix1 = sqlgen.lng_cell_col_sql('maxlng', res)
    return (f'SELECT ty.iy * {nx} + tx.ix AS cell FROM ({regions_cte}) rg '
            f'CROSS JOIN unnest(generate_series({iy0}, {iy1})) ty(iy) '
            f'CROSS JOIN unnest(generate_series({ix0}, {ix1})) tx(ix)')


def focal_sum(pages: DataFrame, res: int, radius: int = 1,
              lat: str = 'lat', lng: str = 'lng') -> DataFrame:
    """Focal (moving-window) aggregation over the cell grid — per-cell
    page count smoothed over the ``(2r+1)²`` neighborhood::

        (cell, n_pages, focal_n)   -- focal_n = Σ counts of all in-range
                                   -- neighbor cells (clamped at grid
                                   -- edges, no longitude wrap)

    The cell-grid twin of a raster box filter (the reference smooths the
    array way — ``Footprint.dilate`` + convolution over a burned grid;
    kernels/footprint.py ports that arithmetic): density smoothing,
    hotspot detection, KDE-lite over geoparsed page locations.

    Plan shape: ONE corpus-keyed aggregation (groupBy cell — map-side
    combinable), then the (2r+1)²-fold neighbor explosion runs on the
    AGGREGATE table (bounded by the grid, not the corpus) followed by a
    second small groupBy. Never explodes corpus rows: at 10^12 pages and
    res 9 the aggregate is ≤ 32·4^9 ≈ 8.4M rows — the explosion factor
    hits that, not the 10^12.

    Exactness: pure integer counts; the oracle enumerates the same
    clamped neighbor ranges — hash-exact.
    """
    if radius < 0:
        raise ValueError(f'radius must be >= 0: {radius}')
    nx, ny = cells.dims(res)
    counts = (assign_cell(pages, res, lat=lat, lng=lng, out='cell')
              .where(F.col('cell') >= 0)
              .groupBy('cell').agg(F.count('*').alias('n_pages'))
              .persist())
    r = radius
    ring = (f'flatten(transform('
            f'sequence(GREATEST(cell DIV {nx} - {r}, 0L), '
            f'LEAST(cell DIV {nx} + {r}, {ny - 1}L)), '
            f'yy -> transform('
            f'sequence(GREATEST(cell % {nx} - {r}, 0L), '
            f'LEAST(cell % {nx} + {r}, {nx - 1}L)), '
            f'xx -> yy * {nx} + xx)))')
    contrib = (counts
               .withColumn('_t', F.explode(F.expr(ring)))
               .groupBy(F.col('_t').alias('cell'))
               .agg(F.sum('n_pages').alias('focal_n')))
    out = (counts.join(contrib, 'cell')
           .select('cell', 'n_pages',
                   F.col('focal_n').cast('long').alias('focal_n')))
    from buzzard_spark.session import checkpoint_release
    return checkpoint_release(out, [counts])


def focal_sum_oracle_sql(pages_cte: str, res: int, radius: int = 1,
                         lat: str = 'lat', lng: str = 'lng') -> str:
    """DuckDB twin of :func:`focal_sum`: per-cell counts + a self-join on
    clamped row/col distance ≤ radius (identical edge semantics, no
    wrap). Output rows restricted to OCCUPIED cells, as in the engine."""
    nx, _ = cells.dims(res)
    cell = sqlgen.cell_sql(lat, lng, res)
    return (
        f'WITH p AS ({pages_cte}), '
        f'c AS (SELECT {cell} AS cell, COUNT(*) AS n_pages FROM p '
        f'WHERE {lat} IS NOT NULL AND {lng} IS NOT NULL GROUP BY 1), '
        'f AS (SELECT a.cell, SUM(b.n_pages) AS focal_n FROM c a JOIN c b '
        f'ON abs(a.cell // {nx} - b.cell // {nx}) <= {radius} '
        f'AND abs(a.cell % {nx} - b.cell % {nx}) <= {radius} '
        'GROUP BY 1) '
        'SELECT c.cell, CAST(c.n_pages AS BIGINT) AS n_pages, '
        'CAST(f.focal_n AS BIGINT) AS focal_n '
        'FROM c JOIN f ON f.cell = c.cell'
    )


def pip_anti_join(pages: DataFrame, regions: DataFrame, res: int,
                  id_col: str = 'page_id') -> DataFrame:
    """Pages contained by NO region (the complement of the PIP join) —
    the 'outside every boundary' filter (unlocatable pages, ocean
    points, jurisdiction gaps)::

        (id_col,)   -- pages whose point lies in no region rectangle;
                    -- NULL-coordinate pages count as outside

    Plan shape: the positive PIP join's matched id set (cover-cell
    equi-join + exact bbox verify — same broadcast/skew properties as
    :func:`pip_join_rect`), then ONE left-anti join of the page table
    against it. The anti join keys on the page id — no geometry
    re-evaluation on the anti side.
    """
    matched = pip_join_rect(pages, regions, res).select(id_col)
    return pages.select(id_col).join(matched, id_col, 'left_anti')


def pip_anti_join_oracle_sql(pages_cte: str, regions_cte: str,
                             id_col: str = 'page_id') -> str:
    """DuckDB twin of :func:`pip_anti_join`: NOT EXISTS over the bbox
    predicate (NULL coords fail every comparison — outside)."""
    return (
        f'WITH p AS ({pages_cte}), rg AS ({regions_cte}) '
        f'SELECT p.{id_col} FROM p WHERE NOT EXISTS ('
        'SELECT 1 FROM rg WHERE p.lat >= rg.minlat AND p.lat <= rg.maxlat '
        'AND p.lng >= rg.minlng AND p.lng <= rg.maxlng)'
    )


def cell_pyramid(pages: DataFrame, res: int, min_res: int = 0,
                 lat: str = 'lat', lng: str = 'lng') -> DataFrame:
    """Multi-resolution aggregation pyramid — per-cell page counts at
    EVERY resolution from ``res`` down to ``min_res``::

        (res, cell, n_pages)   -- one row per occupied cell per level

    The web-map tile pyramid / hypertable rollup: a dashboard zooms
    across levels, so the build emits all of them — but NOT as K corpus
    scans. The corpus is aggregated ONCE at the finest level; every
    coarser level is a parent-keyed re-aggregation of the level below
    (¼ the rows each step), so total work is |corpus| + Σ 4^-k · |grid|
    — the cascade costs barely more than the finest level alone. Exact
    nesting is the grid's power-of-two construction (the same contract
    :func:`compact_cells` and ``kernels.cells.parent`` rely on).

    Scale shape (10^12 pages): level-0 aggregation is the only
    corpus-keyed shuffle (map-side combinable groupBy); the cascade
    shuffles grid-bounded aggregate tables. NULL coordinates drop via
    the −1 sentinel.
    """
    if not 0 <= min_res <= res:
        raise ValueError(f'need 0 <= min_res <= res: {min_res}, {res}')
    # Single-pass level table (round-6 restructure, same scheme as
    # quadtree_leaves): corpus aggregated ONCE at the finest level, then
    # every coarser level comes from one ancestor-explode + groupBy of
    # the grid-bounded fine table — the round-5 cascade persisted one
    # aggregate per level (K exchanges + K cache round-trips). Total
    # aggregation work is the same Σ 4^-k; nothing is persisted, so the
    # plan is a straight pipeline and no checkpoint is needed.
    base = (assign_cell(pages, res, lat=lat, lng=lng, out='cell')
            .where(F.col('cell') >= 0)
            .groupBy('cell').agg(F.count('*').alias('n_pages')))
    nx_fine = 8 << res

    def anc(q: int) -> str:
        sh = 1 << (res - q)
        nx_q = 8 << q
        return (f'((cell DIV {nx_fine}) DIV {sh}) * {nx_q} + '
                f'(cell % {nx_fine}) DIV {sh}')

    structs = [f"named_struct('lvl', {q}, 'c', {anc(q)})"
               for q in range(min_res, res + 1)]
    return (base.select(F.explode(F.expr(
                'array(' + ', '.join(structs) + ')')).alias('s'),
                'n_pages')
            .groupBy(F.col('s.lvl').alias('res'),
                     F.col('s.c').alias('cell'))
            .agg(F.sum('n_pages').cast('long').alias('n_pages')))


def cell_pyramid_oracle_sql(pages_cte: str, res: int, min_res: int = 0,
                            lat: str = 'lat', lng: str = 'lng') -> str:
    """DuckDB twin of :func:`cell_pyramid`: the identical cascade
    unrolled as per-level CTEs (parent arithmetic from the finest level,
    exactly as the engine computes it)."""
    cell = sqlgen.cell_sql(lat, lng, res)
    ctes = [f'p AS ({pages_cte})',
            f'c{res} AS (SELECT {cell} AS cell, COUNT(*) AS n_pages '
            f'FROM p WHERE {lat} IS NOT NULL AND {lng} IS NOT NULL '
            'GROUP BY 1)']
    for r in range(res, min_res, -1):
        nxc, nxp = 8 << r, 8 << (r - 1)
        par = f'((cell // {nxc}) // 2) * {nxp} + (cell % {nxc}) // 2'
        ctes.append(f'c{r - 1} AS (SELECT {par} AS cell, '
                    f'SUM(n_pages) AS n_pages FROM c{r} GROUP BY 1)')
    sel = [f'SELECT {r} AS res, cell, CAST(n_pages AS BIGINT) AS n_pages '
           f'FROM c{r}' for r in range(res, min_res - 1, -1)]
    return 'WITH ' + ', '.join(ctes) + ' ' + ' UNION ALL '.join(sel)


def kmeans_assign(points: DataFrame, k: int, iters: int,
                  id_col: str = 'page_id',
                  lat: str = 'lat', lng: str = 'lng',
                  scale: int = 1_000_000) -> DataFrame:
    """Distributed Lloyd k-means over point coordinates — the
    :func:`nearest_region` fold iterated ``iters`` times::

        (id_col, cluster)   -- assignment after ``iters`` Lloyd rounds;
                            -- NULL-coordinate points get cluster −1

    Determinism (the whole design, since k-means is famously run-order
    sensitive): seeds are the ``k`` lowest-id points; coordinates are
    floored to integer micro-degrees (``scale``) so per-cluster sums are
    EXACT BIGINTs in any aggregation order; each new centroid is ONE
    IEEE division of those exact integers (bit-identical in Spark, the
    DuckDB oracle and Python); assignment ties break to the lowest
    cluster id. Empty clusters keep their previous centroid.

    Plan shape per round: assignment is the :func:`nearest_region`
    literal-fold — a pure codegen map, NO join and NO ×k blowup — then
    one map-side-combinable groupBy(cluster) over k groups. The k
    centroid rows come to the driver each round (a dimension-sized
    collect); nothing corpus-sized ever does.

    Scale shape (10^12 pages): ``iters`` corpus scans, each one map +
    one k-group aggregate — the textbook MapReduce k-means; no state
    between rounds but k rows. BIGINT sums bound the corpus at ~2^53 /
    (scale·180) rows per cluster before the final double conversion
    loses exactness — 10^13 points at micro-degree scale, documented.
    """
    if not 1 <= k <= 4096:
        raise ValueError(f'need 1 <= k <= 4096: {k}')
    if iters < 1:
        raise ValueError(f'iters must be >= 1: {iters}')
    from buzzard_spark.functions.sqlgen import dlit
    sl = dlit(float(scale))
    pts = (points
           .where(F.col(lat).isNotNull() & F.col(lng).isNotNull())
           .select(F.col(id_col).alias('id'),
                   F.expr(f'CAST(FLOOR({lat} * {sl}) AS BIGINT)')
                   .alias('ix'),
                   F.expr(f'CAST(FLOOR({lng} * {sl}) AS BIGINT)')
                   .alias('iy'))
           .persist())
    seeds = pts.orderBy('id').limit(k).collect()
    cents = [(j, float(r['ix']), float(r['iy']))
             for j, r in enumerate(seeds)]

    def _fold(cent_list):
        lits = ', '.join(
            "named_struct('cl', CAST({c} AS BIGINT), 'cx', {x}, "
            "'cy', {y})".format(c=c, x=dlit(x), y=dlit(y))
            for c, x, y in cent_list)
        d2 = ('(CAST(ix AS DOUBLE) - c.cx) * (CAST(ix AS DOUBLE) - c.cx)'
              ' + (CAST(iy AS DOUBLE) - c.cy) * '
              '(CAST(iy AS DOUBLE) - c.cy)')
        return (f"aggregate(array({lits}), "
                f"named_struct('cl', CAST(-1 AS BIGINT), "
                f"'d2', CAST('Infinity' AS DOUBLE)), "
                f'(acc, c) -> CASE WHEN {d2} < acc.d2 THEN '
                f"named_struct('cl', c.cl, 'd2', {d2}) ELSE acc END).cl")

    assign = None
    for it in range(iters):
        assign = pts.withColumn('cl', F.expr(_fold(cents)))
        if it == iters - 1:
            break
        agg = {int(r['cl']): (int(r['sx']), int(r['sy']), int(r['n']))
               for r in assign.groupBy('cl')
               .agg(F.sum('ix').alias('sx'), F.sum('iy').alias('sy'),
                    F.count('*').alias('n')).collect()}
        cents = [
            (c, float(agg[c][0]) / float(agg[c][2]),
             float(agg[c][1]) / float(agg[c][2])) if c in agg else
            (c, x, y)
            for c, x, y in cents]
    out = (points.select(F.col(id_col).alias('id'))
           .join(assign.select('id', 'cl'), 'id', 'left')
           .select(F.col('id').alias(id_col),
                   F.coalesce('cl', F.lit(-1)).alias('cluster')))
    from buzzard_spark.session import checkpoint_release
    return checkpoint_release(out, [pts])


def kmeans_assign_oracle_sql(pages_cte: str, k: int, iters: int,
                             id_col: str = 'page_id',
                             lat: str = 'lat', lng: str = 'lng',
                             scale: int = 1_000_000) -> str:
    """DuckDB twin of :func:`kmeans_assign`: the Lloyd rounds unrolled
    as CTE pairs (cross-join + window argmin assignment; LEFT JOIN
    centroid update keeping empty clusters) — identical integer floor,
    exact BIGINT sums and single-division centroids."""
    from buzzard_spark.functions.sqlgen import dlit
    sl = dlit(float(scale))
    d2 = ('(CAST(p.ix AS DOUBLE) - c.cx) * (CAST(p.ix AS DOUBLE) - c.cx)'
          ' + (CAST(p.iy AS DOUBLE) - c.cy) * '
          '(CAST(p.iy AS DOUBLE) - c.cy)')
    ctes = [
        f'src AS ({pages_cte})',
        f'pts AS (SELECT {id_col} AS id, '
        f'CAST(FLOOR({lat} * {sl}) AS BIGINT) AS ix, '
        f'CAST(FLOOR({lng} * {sl}) AS BIGINT) AS iy FROM src '
        f'WHERE {lat} IS NOT NULL AND {lng} IS NOT NULL)',
        f'c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 '
        f'AS BIGINT) AS cl, CAST(ix AS DOUBLE) AS cx, '
        f'CAST(iy AS DOUBLE) AS cy FROM '
        f'(SELECT * FROM pts ORDER BY id LIMIT {k}))',
    ]
    for it in range(iters):
        ctes.append(
            f'a{it + 1} AS (SELECT id, ix, iy, cl FROM ('
            f'SELECT p.id, p.ix, p.iy, c.cl, ROW_NUMBER() OVER ('
            f'PARTITION BY p.id ORDER BY {d2}, c.cl) AS rn '
            f'FROM pts p CROSS JOIN c{it} c) WHERE rn = 1)')
        if it < iters - 1:
            ctes.append(
                f'c{it + 1} AS (SELECT c.cl, '
                f'COALESCE(CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE), '
                f'c.cx) AS cx, '
                f'COALESCE(CAST(s.sy AS DOUBLE) / CAST(s.n AS DOUBLE), '
                f'c.cy) AS cy FROM c{it} c LEFT JOIN '
                f'(SELECT cl, SUM(ix) AS sx, SUM(iy) AS sy, '
                f'COUNT(*) AS n FROM a{it + 1} GROUP BY 1) s '
                f'ON s.cl = c.cl)')
    return ('WITH ' + ', '.join(ctes) + ' '
            f'SELECT src.{id_col} AS {id_col}, '
            f'CAST(COALESCE(a.cl, -1) AS BIGINT) AS cluster '
            f'FROM src LEFT JOIN a{iters} a ON a.id = src.{id_col}')


def sample_join_pairs(pages: DataFrame, regions: DataFrame, res: int,
                      k: int, seed: str = 'sjp') -> DataFrame:
    """Uniform k-sample OVER the PIP-join result WITHOUT materializing
    it (the problem of "Random Sampling over Spatial Range Joins",
    ICDE'25 — here solved deterministically)::

        (page_id, region_id, rk)   -- the k join pairs with the SMALLEST
                                   -- md5(page, region, seed) rank

    Bottom-k-by-hash IS a uniform sample without replacement (each pair's
    rank is an i.i.d. function of its identity alone), and it is
    DETERMINISTIC: independent of partitioning, retries, join order and
    engine — a hash-gated sample, applied to a JOIN RESULT rather than
    a base table. Nothing result-sized is ever
    shuffled or collected: the hash gate evaluates inside the join's
    output pipeline (codegen), and TakeOrdered k reduces per-partition
    tops — the full join output never exists as a materialized dataset.

    At 10^12 pages × dense regions the PIP join's OUTPUT is the object
    too big to keep; analytics that only need an unbiased peek (joint
    distribution checks, spot QA, debugging a region's page mix) pay
    O(join work) but O(k) memory/output — exactly the paper's point,
    minus its index-assisted shortcuts (our join work is already
    cover-cell-pruned).

    ``rk`` is the hex rank itself — kept in the output so the driver
    oracle can value-check the SAMPLE IDENTITY, not just its size.
    k is capped at 10^6: TakeOrdered holds a k-sized heap per partition,
    so "sample" only makes sense for k ≪ output (bigger asks should just
    run the join).
    """
    if not 1 <= k <= 1_000_000:
        raise ValueError(f'need 1 <= k <= 1e6: {k}')
    pairs = pip_join_rect(pages, regions, res).select('page_id',
                                                      'region_id')
    rk = (f"md5(concat_ws(':', CAST(page_id AS STRING), "
          f"CAST(region_id AS STRING), '{seed}'))")
    return (pairs.withColumn('rk', F.expr(rk))
            .orderBy('rk').limit(k))


def sample_join_pairs_oracle_sql(pages_cte: str, regions_cte: str,
                                 k: int, seed: str = 'sjp') -> str:
    """DuckDB twin of :func:`sample_join_pairs`: brute bbox join, same
    md5 rank, ORDER BY rank LIMIT k — identical sample identity."""
    return (
        f'WITH p AS ({pages_cte}), rg AS ({regions_cte}) '
        f"SELECT p.page_id, rg.region_id, md5(concat_ws(':', "
        f"CAST(p.page_id AS VARCHAR), CAST(rg.region_id AS VARCHAR), "
        f"'{seed}')) AS rk "
        'FROM p JOIN rg ON p.lat >= rg.minlat AND p.lat <= rg.maxlat '
        'AND p.lng >= rg.minlng AND p.lng <= rg.maxlng '
        f'ORDER BY rk LIMIT {k}'
    )


def nearest_k_refs(pages: DataFrame, refs: DataFrame, k: int,
                   id_col: str = 'page_id',
                   lat: str = 'lat', lng: str = 'lng') -> DataFrame:
    """Top-k nearest REFERENCE points per page — the stateless bounded
    form of a stream kNN join (cf. "Distributed Stream KNN Join",
    SIGMOD'21: when the reference side is a dimension table, per-row kNN
    needs no state and no repartitioning at all)::

        (id_col, rnk, region_id, dist2)   -- rnk 1..k by (dist2, ref id)

    :func:`nearest_region` generalized from argmin to arg-top-k: the
    reference table folds into ONE Catalyst ``aggregate()`` literal whose
    accumulator is the current best-k array — each reference appends and
    re-sorts a k-sized struct array (structs compare lexicographically:
    (dist2, rid) gives the deterministic tie-break), so the whole
    operator is a pure codegen map over the corpus. Zero joins, zero
    shuffles, zero Python, no ×|refs| row blowup — and because it is
    stateless it runs UNCHANGED on a streaming DataFrame (stream-static,
    no watermark; pinned streaming==batch in test_streaming).

    For corpus-sized reference sets use :mod:`.knn` (cell-ring
    expansion); this is the dimension-sized fast path — ``k·|refs|``
    struct comparisons per row, |refs| capped at 1024 (expression size
    and per-row cost; the fold is O(|refs|·k log k)).

    NULL coordinates emit no rows (the kNN convention — there is no
    meaningful neighbor set), matching the oracle's NULL-dropping cross
    join.
    """
    from buzzard_spark.functions.sqlgen import dlit
    if not 1 <= k <= 64:
        raise ValueError(f'need 1 <= k <= 64: {k}')
    rows = sorted(refs.select('region_id', 'clat', 'clng').collect(),
                  key=lambda r: int(r['region_id']))
    if not rows:
        raise ValueError('nearest_k_refs: empty reference table')
    if len(rows) > 1024:
        raise ValueError(
            f'nearest_k_refs: {len(rows)} refs — the literal-fold plan '
            'is for dimension tables (<= 1024); use knn')
    lits = ', '.join(
        "named_struct('rid', CAST({rid} AS BIGINT), 'clat', {la}, "
        "'clng', {ln})".format(rid=int(r['region_id']),
                               la=dlit(float(r['clat'])),
                               ln=dlit(float(r['clng'])))
        for r in rows)
    d2 = (f'({lat} - c.clat) * ({lat} - c.clat) + '
          f'({lng} - c.clng) * ({lng} - c.clng)')
    # score every reference once, sort once, slice k: identical output to
    # the old per-reference append-and-resort fold ((d2, rid) is a total
    # order — rids are distinct), but ONE array_sort per row instead of
    # |refs| sorts with an array allocation each (higher-order lambdas are
    # interpreted, so per-step allocations dominated the old fold)
    fold = (
        f'slice(array_sort(transform(array({lits}), '
        f"c -> named_struct('d2', {d2}, 'rid', c.rid))), 1, {k})")
    return (pages
            .where(F.col(lat).isNotNull() & F.col(lng).isNotNull())
            .select(F.col(id_col), F.posexplode(F.expr(fold)))
            .select(id_col,
                    (F.col('pos') + 1).cast('int').alias('rnk'),
                    F.col('col.rid').alias('region_id'),
                    F.col('col.d2').alias('dist2')))


def nearest_k_refs_oracle_sql(pages_cte: str, refs_cte: str, k: int,
                              id_col: str = 'page_id',
                              lat: str = 'lat', lng: str = 'lng') -> str:
    """DuckDB twin of :func:`nearest_k_refs`: cross join + window rank
    ordered by (dist2, region_id) — identical IEEE dist2 arithmetic."""
    d2 = (f'(p.{lat} - c.clat) * (p.{lat} - c.clat) + '
          f'(p.{lng} - c.clng) * (p.{lng} - c.clng)')
    return (
        f'WITH p AS ({pages_cte}), c AS ({refs_cte}), '
        f'd AS (SELECT p.{id_col}, c.region_id, {d2} AS dist2 '
        f'FROM p CROSS JOIN c '
        f'WHERE p.{lat} IS NOT NULL AND p.{lng} IS NOT NULL) '
        f'SELECT {id_col}, rnk, region_id, dist2 FROM ('
        f'SELECT {id_col}, region_id, dist2, CAST(ROW_NUMBER() OVER ('
        f'PARTITION BY {id_col} ORDER BY dist2, region_id) AS INT) '
        f'AS rnk FROM d) WHERE rnk <= {k}'
    )
