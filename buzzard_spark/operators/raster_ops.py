"""Distributed raster ↔ vector operators.

The reference runs these per-array on one machine
(reference: buzzard/_footprint.py:1538-1935); here rasters are DataFrames
of tile rows and the kernels (kernels.raster) run per tile in Python
stages that receive only the columns their kernel reads, as Arrow tables:

- ``rasterize``  — tiles ⨝ broadcast(polygons) on bbox
  (``_tile_candidates``) → groupBy(tile).applyInArrow(burn) → tile mask
  rows. ``rasterize_lines`` and ``zonal_stats`` share the same
  candidate join and stage shape.
- ``polygonize`` — the reference never had to stitch (single array;
  SURVEY.md §7.3 hard part 3). Three phases:
    1. per-tile run-length labeling (``tile_runs``: one mapInArrow over
       the tile rows, no shuffle → run rows),
    2. cross-tile connectivity, stitched on the driver: only a run on a
       tile's first or last row or column can touch another tile, so
       those border runs (O(total tile-border length)) are fetched, their
       cross-tile adjacency is merged in pandas and resolved with
       ``kernels.raster.union_find``, and the labels are broadcast back
       onto the runs as a local relation,
    3. runs shuffled by global component id; one reducer per component
       (applyInArrow over its (y, xs, xe) runs) traces rings with the
       exact same kernel as the single-node path — so distributed
       output == kernel output by construction.

- ``thin_tiles`` / ``vectorize_lines`` — the reference's find_lines
  (thin → pixel graph → linemerge). Each tile needs the set pixels
  within a halo of H px around its window: every pixel is sent to each
  tile of the grid whose window, grown by H, holds it (``_halo_rows``,
  reaching ceil(H / tile_size) tiles per direction), so the halo is
  exact for every tile size, 1 included. These stages still run as
  pandas UDFs.

``polygonize`` and ``vectorize_lines`` stitch and end the same way: the
rows that link tiles (border runs, cross-tile fragment links) are fetched
to the driver (at most ``MAX_STITCH`` rows) and union-found there, the
shapes are fetched (``session.fetch``, at most ``MAX_SHAPES`` rows; more
than either cap raise ``ValueError``), every block the pipeline persisted
is released in a ``finally``, and the result returns as a local relation.

Tile rows: (tile_y int, tile_x int, y0 int, x0 int, h int, w int,
mask binary) — mask is a packed bool numpy buffer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buzzard_spark.kernels import geometry, raster
from buzzard_spark.session import fetch, local_frame, release_blocks

TILE_SCHEMA = ('tile_y int, tile_x int, y0 int, x0 int, h int, w int, '
               'mask binary')
RUN_SCHEMA = 'tile_y int, tile_x int, y int, xs int, xe int, lab int'
POLY_SCHEMA = 'component_id long, wkb binary, area double, n_rings int'
ZONAL_SCHEMA = ('region_id long, n_pixels long, v_sum long, v_min long, '
                'v_max long')
# the most polygons or polylines one polygonize / vectorize_lines call
# returns: the driver holds every row's WKB, as it holds knn.MAX_QUERIES
# queries
MAX_SHAPES = 100_000
# the most rows one driver stitch fetches: polygonize's border runs or
# vectorize_lines' cross-tile fragment links (~4 MB of fetched rows)
MAX_STITCH = 200_000

_WINDOW = ('tile_y', 'tile_x', 'y0', 'x0', 'h', 'w')
_ARROW_TYPES = {'int': pa.int32(), 'long': pa.int64(),
                'double': pa.float64(), 'binary': pa.binary()}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema an Arrow UDF must return for a DDL string."""
    return pa.schema([(name, _ARROW_TYPES[typ]) for name, typ in
                      (field.split() for field in ddl.split(','))])


def tile_grid_df(spark: SparkSession, fp, tile_size: int) -> DataFrame:
    """Enumerate the shrink-tiling of fp as rows (pure JVM arithmetic).

    Mirrors fp.tile((tile_size, tile_size), boundary_effect='shrink') —
    conformance is pinned by tests/test_spark_tiling.py.
    """
    ntx = -(-fp.rsizex // tile_size)
    nty = -(-fp.rsizey // tile_size)
    return spark.range(ntx * nty).select(
        (F.col('id') % ntx).cast('int').alias('tile_x'),
        (F.col('id') / ntx).cast('int').alias('tile_y'),
    ).select(
        'tile_y', 'tile_x',
        (F.col('tile_y') * tile_size).alias('y0'),
        (F.col('tile_x') * tile_size).alias('x0'),
        F.least(F.lit(tile_size),
                F.lit(fp.rsizey) - F.col('tile_y') * tile_size).cast('int').alias('h'),
        F.least(F.lit(tile_size),
                F.lit(fp.rsizex) - F.col('tile_x') * tile_size).cast('int').alias('w'),
    )


def _tile_candidates(spark: SparkSession, fp, tile_size: int,
                     geoms: DataFrame, cols: tuple) -> DataFrame:
    """Tiles ⨝ broadcast(geoms) on bbox overlap: one row per (tile,
    geometry) pair, projected to the tile window and the geometry
    columns ``cols`` the kernel reads.

    geoms carries a world bbox (minlat, minlng, maxlat, maxlng). The tile
    bbox below, and the per-tile footprint ``_tile_fp`` builds, hold for
    a north-up fp only, so any other fp is refused.
    """
    a, b, c, d, e, f = fp._coef
    if not (b == 0 and d == 0 and a > 0 and e < 0):
        raise ValueError('tiled rasterization needs a north-up footprint '
                         '(b = d = 0, a > 0, e < 0); affine: %s'
                         % str(fp._coef))
    tiles = tile_grid_df(spark, fp, tile_size).select(
        '*',
        (F.col('x0') * a + c).alias('t_minx'),
        ((F.col('x0') + F.col('w')) * a + c).alias('t_maxx'),
        ((F.col('y0') + F.col('h')) * e + f).alias('t_miny'),
        (F.col('y0') * e + f).alias('t_maxy'),
    )
    return tiles.join(
        F.broadcast(geoms),
        (F.col('t_minx') <= F.col('maxlng')) & (F.col('t_maxx') >= F.col('minlng')) &
        (F.col('t_miny') <= F.col('maxlat')) & (F.col('t_maxy') >= F.col('minlat'))
    ).select(*_WINDOW, *cols)


def _window(tbl):
    """(y0, x0, h, w) of a candidate group's tile."""
    return tuple(tbl.column(k)[0].as_py() for k in ('y0', 'x0', 'h', 'w'))


def _tile_fp(gt, y0, x0, h, w):
    """Footprint of a tile window of the north-up grid ``gt``."""
    from buzzard_spark.kernels.footprint import Footprint
    return Footprint(gt=(gt[0] + x0 * gt[1], gt[1], gt[2],
                         gt[3] + y0 * gt[5], gt[4], gt[5]), rsize=(w, h))


def _mask_tiles(spark, fp, geoms, tile_size, burn) -> DataFrame:
    """One tile mask row per tile with ≥1 candidate geometry:
    ``burn(tile_fp, wkbs)`` → bool mask."""
    cand = _tile_candidates(spark, fp, tile_size, geoms, ('wkb',))
    gt = tuple(float(v) for v in fp.gt)
    schema = _arrow_schema(TILE_SCHEMA)

    def _burn(tbl):
        mask = burn(_tile_fp(gt, *_window(tbl)),
                    tbl.column('wkb').to_pylist())
        row = {k: [tbl.column(k)[0].as_py()] for k in _WINDOW}
        row['mask'] = [np.packbits(mask).tobytes()]
        return pa.Table.from_pydict(row, schema=schema)

    return cand.groupBy('tile_y', 'tile_x').applyInArrow(_burn, TILE_SCHEMA)


def rasterize(spark: SparkSession, fp, polys: DataFrame,
              tile_size: int = 256) -> DataFrame:
    """polys (region_id, wkb, minlat, minlng, maxlat, maxlng — world bbox)
    → tile mask rows. Only tiles intersecting ≥1 polygon are emitted."""
    return _mask_tiles(spark, fp, polys, tile_size, raster.burn_polygons)


def rasterize_lines(spark: SparkSession, fp, lines: DataFrame,
                    tile_size: int = 256) -> DataFrame:
    """linestrings (line_id, wkb, minlat, minlng, maxlat, maxlng) → tile
    mask rows via per-tile DDA burn (kernels.raster.burn_lines)."""
    return _mask_tiles(spark, fp, lines, tile_size, raster.burn_lines)


def _unpack_mask(buf, h, w):
    return np.unpackbits(
        np.frombuffer(bytes(buf), dtype=np.uint8),
        count=h * w).reshape(h, w).astype(bool)


def tile_runs(mask_tiles: DataFrame) -> DataFrame:
    """Per-tile 4-connected labeling → run rows (global pixel coords).

    Each tile row is labeled on its own, so this is a per-row
    mapInArrow over the tile rows: no shuffle, no per-group overhead.
    Run extraction is vectorized: the labeled tile is flattened with a
    sentinel zero column appended to each row, so maximal constant-label
    segments of the flat array ARE the runs — one np.diff/flatnonzero
    pass per tile."""
    schema = _arrow_schema(RUN_SCHEMA)

    def _runs(batches):
        for batch in batches:
            tiles = batch.to_pydict()
            cols = {k: [] for k in schema.names}
            for ty, tx, y0, x0, h, w, buf in zip(
                    *(tiles[k] for k in _WINDOW), tiles['mask']):
                labels, _n = raster._label_components(
                    _unpack_mask(buf, h, w))
                flat = np.concatenate(
                    [labels.astype(np.int64),
                     np.zeros((h, 1), np.int64)], axis=1).ravel()
                change = np.flatnonzero(flat != np.r_[0, flat[:-1]])
                if change.size == 0:
                    continue
                seg_end = np.r_[change[1:], flat.size]
                vals = flat[change]
                keep = vals != 0
                s, e, v = change[keep], seg_end[keep], vals[keep]
                w1 = w + 1
                cols['tile_y'].append(np.full(len(s), ty, np.int32))
                cols['tile_x'].append(np.full(len(s), tx, np.int32))
                cols['y'].append(y0 + s // w1)
                cols['xs'].append(x0 + s % w1)
                cols['xe'].append(x0 + s % w1 + (e - s))
                cols['lab'].append(v)
            if cols['lab']:
                yield pa.RecordBatch.from_pydict(
                    {k: np.concatenate(c) for k, c in cols.items()},
                    schema=schema)

    return mask_tiles.select(*_WINDOW, 'mask').mapInArrow(_runs, RUN_SCHEMA)


LINE_SCHEMA = 'chain_id long, wkb binary, n_pts int'

_THIN_SCHEMA = TILE_SCHEMA + ', _chg long'
# thinning subiterations per halo exchange (= the halo depth in pixels)
_THIN_SUB = 4


def _halo_rows(tile_y, tile_x, y0, x0, gy, gx, halo, tile_size):
    """Halo copies of one tile's set pixels (GLOBAL int32 ``gy``, ``gx``)
    as (tile_y, tile_x, y, x) arrays: every pixel goes to each OTHER tile
    of the ``tile_size`` grid whose window, grown by ``halo`` px, holds
    it. Reaching ceil(halo / tile_size) tiles in each direction makes the
    halo exact for every tile size, 1 included; negative tile indices are
    skipped, and rows past the grid's far edge meet no tile downstream.
    A tile whose (y0, x0) is off the grid raises ``ValueError`` (a wrong
    ``tile_size`` would otherwise give silently wrong masks)."""
    if (y0, x0) != (tile_y * tile_size, tile_x * tile_size):
        raise ValueError(
            f'tile ({tile_y}, {tile_x}) starts at (y0, x0) = ({y0}, {x0}), '
            f'off the tile_size={tile_size} grid')
    reach = -(-halo // tile_size)

    def _hits(t, g):
        # grid offset k → which pixels tile (t + k)'s grown window holds
        return [(k, (g >= (t + k) * tile_size - halo) &
                 (g < (t + k + 1) * tile_size + halo))
                for k in range(-reach, reach + 1) if t + k >= 0]

    dest_y, dest_x, idx = [], [], []
    for dy, in_y in _hits(tile_y, gy):
        for dx, in_x in _hits(tile_x, gx):
            if dy or dx:
                i = np.flatnonzero(in_y & in_x)
                dest_y.append(np.full(len(i), tile_y + dy, np.int32))
                dest_x.append(np.full(len(i), tile_x + dx, np.int32))
                idx.append(i)
    idx = np.concatenate(idx)
    return np.concatenate(dest_y), np.concatenate(dest_x), gy[idx], gx[idx]


def _tile_pixels(row):
    """(tile_y, tile_x, y0, x0) and the GLOBAL int32 (gy, gx) of the set
    pixels of one tile row."""
    ys, xs = np.nonzero(_unpack_mask(row['mask'], int(row.h), int(row.w)))
    ty, tx, y0, x0 = (int(row[k]) for k in ('tile_y', 'tile_x', 'y0', 'x0'))
    return (ty, tx, y0, x0, (ys + y0).astype(np.int32),
            (xs + x0).astype(np.int32))


def _thin_block(tiles: DataFrame, tile_size: int) -> DataFrame:
    """``_THIN_SUB`` thinning subiterations (alternating Lam-Lee-Suen sub
    0/1) in ONE halo exchange: with an H = ``_THIN_SUB``-pixel halo, each
    subiteration invalidates one outer ring of the local window, so every
    OWN pixel's H-step evolution is exact (bit-identical to H global
    subiterations). One mapInPandas + one cogroup shuffle per block
    instead of one per subiteration — at scale the per-round barrier and
    shuffle is the dominant thinning cost. The halo is indexed by the
    ``tile_size`` grid (``_halo_rows``), so it is exact for any tile size.

    ``_chg`` counts own-pixel deletions in the LAST TWO subiterations
    (the final full iteration) — the convergence statistic."""
    H = _THIN_SUB

    def _emit_halo(iterator):
        for pdf in iterator:
            parts = [_halo_rows(*_tile_pixels(row), H, tile_size)
                     for _, row in pdf.iterrows()]
            if parts:
                yield pd.DataFrame(dict(zip(('tile_y', 'tile_x', 'y', 'x'),
                                            map(np.concatenate,
                                                zip(*parts)))))

    halos = tiles.mapInPandas(_emit_halo, 'tile_y int, tile_x int, '
                                          'y int, x int')

    def _apply(key, tpdf, hpdf):
        if not len(tpdf):
            return pd.DataFrame(columns=[
                'tile_y', 'tile_x', 'y0', 'x0', 'h', 'w', 'mask', '_chg'])
        row = tpdf.iloc[0]
        h, w = int(row.h), int(row.w)
        y0, x0 = int(row.y0), int(row.x0)
        mask = _unpack_mask(row['mask'], h, w)
        # window = own tile + H-px halo ring, plus the 1-px zero pad
        # _thin_delete needs; cells beyond the halo are assumed empty,
        # which is exactly the staleness the per-subiteration validity
        # argument absorbs (ring k of the window is stale after k
        # subiterations; own pixels sit >= H rings deep).
        P = np.zeros((h + 2 * H + 2, w + 2 * H + 2), bool)
        P[H + 1:H + 1 + h, H + 1:H + 1 + w] = mask
        if len(hpdf):
            hy = hpdf['y'].to_numpy(np.int64) - y0 + H + 1
            hx = hpdf['x'].to_numpy(np.int64) - x0 + H + 1
            P[hy, hx] = True
        chg = 0
        for k in range(H):
            d = raster._thin_delete(P, k % 2)
            if k >= H - 2:
                chg += int(d[H:H + h, H:H + w].sum())
            if d.any():
                P[1:-1, 1:-1] &= ~d
        return pd.DataFrame([{
            'tile_y': int(row.tile_y), 'tile_x': int(row.tile_x),
            'y0': y0, 'x0': x0, 'h': h, 'w': w,
            'mask': bytearray(np.packbits(
                P[H + 1:H + 1 + h, H + 1:H + 1 + w]).tobytes()),
            '_chg': chg}])

    return (tiles.groupby('tile_y', 'tile_x')
            .cogroup(halos.groupby('tile_y', 'tile_x'))
            .applyInPandas(_apply, _THIN_SCHEMA))


def thin_tiles(spark: SparkSession, mask_tiles: DataFrame,
               cache_registry: list, tile_size: int = 256,
               max_iters: int = 1024) -> DataFrame:
    """Distributed morphological thinning of a tiled mask — the scale
    analogue of ``kernels.raster.thin`` (the reference's ``skm.thin``
    preprocessing, buzzard/_footprint.py:1631): per round, every tile
    receives the set pixels within ``_THIN_SUB`` px of its window from
    every tile of the ``tile_size`` grid that holds them (a grid-indexed
    halo, exact for any tile size) and runs ``_THIN_SUB`` Lam-Lee-Suen
    subiterations (``_thin_block``); the loop stops when a full iteration
    deletes nothing anywhere. Output masks are bit-identical to the
    kernel on the stitched array. Tile rows must lie on the
    ``tile_size`` grid (``tile_grid_df``); an off-grid row fails the job
    with ``ValueError``.

    Scale shape: each round is one cogroup shuffle of (packed tile masks
    + sparse halo pixels) — nothing mask-sized on the driver; the
    iteration count is O(max inscribed blob radius), the propagation lower
    bound any parallel thinning shares. Rounds use lazy localCheckpoints
    (one job per round, the convergence sum); the round blocks are
    appended to ``cache_registry`` and the final round (already
    block-materialized by its convergence action) returns as-is. The
    CALLER releases the registry with ``session.release_blocks`` once
    its result no longer reads them (after a collect or fetch)."""
    tiles = mask_tiles.select(*_WINDOW, 'mask')
    for _ in range(0, max_iters, _THIN_SUB // 2):
        # TWO full iterations materialize per convergence job: the checked
        # sum counts ONLY the last full iteration's deletions — zero means
        # a full iteration deleted nothing, the sound fixpoint criterion.
        # Worst case runs one extra iteration at the fixpoint, which
        # deletes nothing (thinning is idempotent there), so the output
        # mask is bit-identical at half the jobs.
        tiles = _thin_block(tiles, tile_size).localCheckpoint(eager=False)
        cache_registry.append(tiles)
        if not tiles.agg(F.sum('_chg')).collect()[0][0]:
            break
    else:
        raise RuntimeError(
            f'thin_tiles did not converge in {max_iters} iterations')
    return tiles.drop('_chg')


def _tile_halo_pixels_h(mask_tiles: DataFrame, halo: int,
                        tile_size: int) -> DataFrame:
    """Pixel rows (tile_y, tile_x, y, x, own bool): each tile's set pixels
    plus every set pixel within ``halo`` px of its window, taken from the
    tiles of the ``tile_size`` grid that hold them (``_halo_rows``; halo
    rows carry own=false). Lets every tile evaluate (2·halo+1)²
    neighborhoods of its own pixels exactly. Each tile row emits its
    pixel rows independently (one mapInPandas, no shuffle);
    ``_edges_with_links`` groups them by destination tile."""
    def _emit(iterator):
        for pdf in iterator:
            parts = []
            for _, row in pdf.iterrows():
                ty, tx, y0, x0, gy, gx = _tile_pixels(row)
                n = len(gy)
                parts.append((np.full(n, ty, np.int32),
                              np.full(n, tx, np.int32),
                              gy, gx, np.ones(n, bool)))
                halo_rows = _halo_rows(ty, tx, y0, x0, gy, gx, halo,
                                       tile_size)
                parts.append(halo_rows + (np.zeros(len(halo_rows[0]), bool),))
            if parts:
                yield pd.DataFrame(dict(zip(
                    ('tile_y', 'tile_x', 'y', 'x', 'own'),
                    map(np.concatenate, zip(*parts)))))

    return mask_tiles.mapInPandas(
        _emit, 'tile_y int, tile_x int, y int, x int, own boolean')


_EDGE_SCHEMA = ('eid long, ax int, ay int, bx int, by int, '
                'ea long, eb long, la long, lb long')


def _edges_with_links(pixels: DataFrame) -> DataFrame:
    """Pixel-graph edge extraction + 2×2-square collapse from ONE
    2-px-halo view (``_tile_halo_pixels_h``): one applyInPandas pass per
    tile emits the finished edge rows (eid, endpoints, square-extended
    endpoints ea/eb, nullable square top-lefts la/lb). Edge rule of
    kernels.raster.find_lines: 4-neighbors always, diagonals only when no
    4-connected detour exists; each edge is emitted once, by the tile
    owning its first endpoint. Node ids pack a pixel as y·2^21 + x and
    eid = node·4 + direction — collision-free up to 2^21 px per side.
    Validity: an edge's far endpoint b lies within 1 px of an own pixel,
    b's candidate squares within 1 px of b, and their member pixels
    within 1 px again — all inside the 2-px halo, so la/lb (and the
    row-major last-wins tie-break of kernels.raster.square_links,
    reproduced by ascending-TL overwrite) are computed exactly as the
    global kernel computes them. Segments fully inside squares (la AND lb
    both set) are dropped."""
    def _emit(key, pdf):
        cols = ['eid', 'ax', 'ay', 'bx', 'by', 'ea', 'eb', 'la', 'lb']
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        xs = pdf['x'].to_numpy(np.int64)
        ys = pdf['y'].to_numpy(np.int64)
        own_rows = pdf['own'].to_numpy(bool)
        if not own_rows.any():
            return pd.DataFrame(columns=cols)
        x0, y0 = int(xs.min()) - 1, int(ys.min()) - 1
        W = int(xs.max()) - x0 + 2
        H = int(ys.max()) - y0 + 2
        grid = np.zeros((H, W), bool)
        grid[ys - y0, xs - x0] = True
        owng = np.zeros((H, W), bool)
        owng[ys[own_rows] - y0, xs[own_rows] - x0] = True
        sq = np.zeros((H, W), bool)
        sq[:-1, :-1] = (grid[:-1, :-1] & grid[1:, :-1] &
                        grid[:-1, 1:] & grid[1:, 1:])

        def _shift(a, dy, dx):
            # out[y, x] = a[y + dy, x + dx] (zeros outside)
            out = np.zeros_like(a)
            ys0, ys1 = max(0, -dy), min(H, H - dy)
            xs0, xs1 = max(0, -dx), min(W, W - dx)
            if ys0 < ys1 and xs0 < xs1:
                out[ys0:ys1, xs0:xs1] = a[ys0 + dy:ys1 + dy,
                                          xs0 + dx:xs1 + dx]
            return out

        # per-cell square top-left (or -1): ascending-TL overwrite — the
        # kernel's row-major last-wins tie-break (square AT the pixel wins
        # last)
        yidx, xidx = np.indices((H, W))
        tly = np.full((H, W), -1, np.int64)
        tlx = np.full((H, W), -1, np.int64)
        for dy, dx in ((1, 1), (1, 0), (0, 1), (0, 0)):
            m = _shift(sq, -dy, -dx)  # m[y, x] = sq[y - dy, x - dx]
            tly = np.where(m, yidx - dy, tly)
            tlx = np.where(m, xidx - dx, tlx)

        frames = []
        for di, (dx, dy) in enumerate(((1, 0), (0, 1), (1, 1), (1, -1))):
            pair = owng & _shift(grid, dy, dx)
            if dx and dy:
                pair &= ~(_shift(grid, 0, dx) | _shift(grid, dy, 0))
            py, px = np.nonzero(pair)
            if not len(py):
                continue
            lay = tly[py, px]
            lax = tlx[py, px]
            lby = tly[py + dy, px + dx]
            lbx = tlx[py + dy, px + dx]
            keep = (lay < 0) | (lby < 0)
            if not keep.any():
                continue
            py, px = py[keep], px[keep]
            lay, lax = lay[keep], lax[keep]
            lby, lbx = lby[keep], lbx[keep]
            ax = (px + x0).astype(np.int64)
            ay = (py + y0).astype(np.int64)
            bx, by = ax + dx, ay + dy
            na = ay * 2097152 + ax
            nb = by * 2097152 + bx
            la = (lay + y0) * 2097152 + (lax + x0)
            lb = (lby + y0) * 2097152 + (lbx + x0)
            frames.append(pd.DataFrame({
                'eid': na * 4 + di,
                'ax': ax.astype(np.int32), 'ay': ay.astype(np.int32),
                'bx': bx.astype(np.int32), 'by': by.astype(np.int32),
                'ea': np.where(lay >= 0, la, na),
                'eb': np.where(lby >= 0, lb, nb),
                'la': pd.Series(la, dtype='Int64').where(lay >= 0),
                'lb': pd.Series(lb, dtype='Int64').where(lby >= 0),
            }))
        if not frames:
            return pd.DataFrame(columns=cols)
        return pd.concat(frames, ignore_index=True)

    return (pixels.groupBy('tile_y', 'tile_x')
            .applyInPandas(_emit, _EDGE_SCHEMA))


def _join_labels(df: DataFrame, key: str, a: pd.Series,
                 b: pd.Series) -> DataFrame:
    """df with ``comp``, the min ``key`` of its component when the
    driver-fetched pairs (a[i], b[i]) link keys: the pairs are
    union-found on the driver and their labels broadcast-joined as a
    local relation; a key no pair names is its own component."""
    roots = raster.union_find(zip(a.tolist(), b.tolist()))
    labels = local_frame(df.sparkSession, list(roots.items()),
                         f'{key} long, comp long')
    return (df.join(F.broadcast(labels), key, 'left')
            .withColumn('comp', F.coalesce('comp', key)))


def vectorize_lines(spark: SparkSession, fp, mask_tiles: DataFrame,
                    tile_size: int = 256) -> DataFrame:
    """Distributed ``find_lines``: tile masks → merged polyline rows
    (chain_id, wkb linestring, n_pts), world coordinates
    (reference semantics: buzzard/_footprint.py:1538-1717 — thin mask →
    pixel graph → merge degree-2 chains; kernel twin kernels.raster
    .find_lines, conformance pinned by tests/test_spark_raster.py).
    Tile rows must lie on the ``tile_size`` grid of ``fp``.

    Scale shape (mirrors ``polygonize`` — nothing mask-sized on driver):

    0. distributed thinning (``thin_tiles``, the reference's ``skm.thin``
       preprocessing; unthinned blob masks would yield denser linework
       than buzzard),
    1. per-tile pixel-graph edges with the 2×2-square collapse, from one
       2-px halo indexed by the tile grid (``_tile_halo_pixels_h`` →
       ``_edges_with_links``; exact for any tile size, 1 included),
    2. node degrees = groupBy count; edges sharing a degree-2 node belong
       to one chain; intra-tile fragments contract in a per-tile
       union-find, then the cross-tile fragment links are fetched and
       union-found on the driver (junction nodes split chains exactly
       like the kernel's walk) and the chain labels broadcast back,
    3. one reducer per chain orders its edges into the polyline —
       O(chain length), the longest single polyline is the natural lower
       bound for any vectorizer's output row.

    The polylines are fetched to the driver and returned as a local
    relation; more than ``MAX_STITCH`` fragment links or ``MAX_SHAPES``
    polylines raise ``ValueError``. Every block the pipeline persisted is
    released before the call returns or raises.
    """
    def _uf(key, pdf):
        roots = raster.union_find(zip(pdf['id_a'].tolist(),
                                      pdf['id_b'].tolist()))
        return pd.DataFrame(list(roots.items()), columns=['eid', 'lroot'])

    coef = tuple(float(v) for v in fp._coef)

    def _assemble(key, pdf):
        # one reducer per chain: rebuild vertex-list segments (with the
        # square-collapse endpoint extensions) and merge them with the
        # SAME deterministic linemerge walk as the kernel
        # (kernels.raster.merge_segments) — distributed == kernel by
        # construction
        cid = int(key[0])
        segs = []
        la_col = pdf['la']
        lb_col = pdf['lb']
        for i, (ax, ay, bx, by) in enumerate(
                zip(pdf['ax'], pdf['ay'], pdf['bx'], pdf['by'])):
            a = (int(ax), int(ay))
            b = (int(bx), int(by))
            path = [a, b]
            la = la_col.iloc[i]
            lb = lb_col.iloc[i]
            if pd.notna(la):
                tl = (int(la) % 2097152, int(la) // 2097152)
                if tl != a:
                    path.insert(0, tl)
            if pd.notna(lb):
                tl = (int(lb) % 2097152, int(lb) // 2097152)
                if tl != b:
                    path.append(tl)
            segs.append(path)
        from buzzard_spark.kernels import geometry as geom
        a_, b_, c_, d_, e_, f_ = coef
        rows = []
        for path in raster.merge_segments(segs):
            px = np.asarray([p[0] + 0.5 for p in path])
            py = np.asarray([p[1] + 0.5 for p in path])
            line = np.column_stack(
                [px * a_ + py * b_ + c_, px * d_ + py * e_ + f_])
            rows.append({'chain_id': cid,
                         'wkb': bytearray(geom.wkb_linestring(line)),
                         'n_pts': len(path)})
        return pd.DataFrame(rows)

    # thin_tiles registers its round blocks here; the persisted edge and
    # fragment tables join them
    registry: list = []
    try:
        mask_tiles = thin_tiles(spark, mask_tiles, registry, tile_size)
        pixels = _tile_halo_pixels_h(mask_tiles, 2, tile_size)
        edges_px = _edges_with_links(pixels).persist()
        registry.append(edges_px)
        ends = (edges_px.select(F.col('eid'), F.col('ea').alias('node'))
                .unionByName(edges_px.select('eid',
                                             F.col('eb').alias('node'))))
        deg2 = (ends.groupBy('node').agg(F.count('*').alias('d'),
                                         F.min('eid').alias('e1'),
                                         F.max('eid').alias('e2'))
                .where(F.col('d') == 2))
        pairs = deg2.select(F.col('e1').alias('id_a'),
                            F.col('e2').alias('id_b'))
        # two-level chain resolution: pairs whose two edges originate in
        # the same tile are contracted by a per-tile union-find first, so
        # the driver sees one node per intra-tile chain FRAGMENT
        # (O(border crossings + junctions) links instead of O(set
        # pixels)). lroot = min eid of the local fragment, so the global
        # component min — and therefore the emitted chain_id — is
        # bit-identical to the uncontracted labeling.
        tkey = ('((({e} DIV 4) DIV 2097152) DIV {ts}) * 4194304 + '
                '((({e} DIV 4) % 2097152) DIV {ts})')
        pairs_t = (pairs
                   .withColumn('_ta', F.expr(tkey.format(e='id_a',
                                                         ts=tile_size)))
                   .withColumn('_tb', F.expr(tkey.format(e='id_b',
                                                         ts=tile_size))))
        intra = pairs_t.where(F.col('_ta') == F.col('_tb'))
        cross = pairs_t.where(F.col('_ta') != F.col('_tb')) \
            .select('id_a', 'id_b')
        local = intra.groupBy('_ta').applyInPandas(_uf,
                                                   'eid long, lroot long')
        # eid = (origin pixel)*4 + dir is unique per edge row by
        # construction (each tile emits its own pixels' edges exactly
        # once), so no distinct — it would be a full extra exchange of
        # the edge set
        m = (edges_px
             .join(local, 'eid', 'left')
             .select('eid', 'ax', 'ay', 'bx', 'by', 'la', 'lb',
                     F.coalesce('lroot', 'eid').alias('lroot'))
             .persist())
        registry.append(m)
        crossm = (cross
                  .join(m.select(F.col('eid').alias('id_a'),
                                 F.col('lroot').alias('_la')), 'id_a')
                  .join(m.select(F.col('eid').alias('id_b'),
                                 F.col('lroot').alias('_lb')), 'id_b')
                  .select(F.col('_la').alias('id_a'),
                          F.col('_lb').alias('id_b')))
        links = fetch(crossm, MAX_STITCH, 'raster_ops.MAX_STITCH')
        out = (_join_labels(m, 'lroot', links['id_a'], links['id_b'])
               .select(F.col('comp').alias('chain_id'),
                       'ax', 'ay', 'bx', 'by', 'la', 'lb')
               .groupBy('chain_id').applyInPandas(_assemble, LINE_SCHEMA))
        lines = fetch(out, MAX_SHAPES, 'raster_ops.MAX_SHAPES')
    finally:
        release_blocks(registry)
    return local_frame(spark, lines, LINE_SCHEMA)


# packed node id of a tile's labeled component: (tile_y, tile_x, lab) →
# int64. 21 bits each ⇒ up to 2^21 tiles per axis and 2^21 labels per tile
# (tile_size up to 2048); 63 bits total, no overflow.
_NODE_PACK = '((CAST(tile_y AS BIGINT) * 2097152 + tile_x) * 2097152 + lab)'


def _stitch_pairs(border: pd.DataFrame, tile_size: int):
    """(a, b) node series of the border runs that touch a run of another
    tile. ``border`` holds the runs on a tile's first or last row or
    column as (node, y, xs, xe). Two runs of different tiles touch across
    a tile row edge (last row of one tile, first row of the next,
    overlapping x intervals in the same tile column) or a tile column
    edge (one run ends where the other starts, on the same row); runs of
    one tile never abut, or they would be one run."""
    b = border.assign(tx=border['xs'] // tile_size)
    last = b[(b['y'] + 1) % tile_size == 0].assign(y=lambda d: d['y'] + 1)
    vert = last.merge(b[b['y'] % tile_size == 0], on=['y', 'tx'])
    vert = vert[(vert['xs_x'] < vert['xe_y']) & (vert['xs_y'] < vert['xe_x'])]
    horiz = b.merge(b, left_on=['y', 'xe'], right_on=['y', 'xs'])
    pairs = pd.concat([vert[['node_x', 'node_y']],
                       horiz[['node_x', 'node_y']]])
    return pairs['node_x'], pairs['node_y']


def polygonize(spark: SparkSession, fp, mask_tiles: DataFrame,
               tile_size: int = 256) -> DataFrame:
    """Distributed find_polygons: tile masks → polygon rows
    (component_id, wkb multirings, area, n_rings), world coordinates.
    component_id = packed min (tile_y, tile_x, lab) node of the component
    (stable, but not dense).

    Scale shape (nothing mask-sized touches the driver):

    1. per-tile run-length labeling (``tile_runs``, one mapInArrow),
    2. cross-tile connectivity, stitched on the driver: one fetch of the
       border runs (a tile's first or last row or column: O(total
       tile-border length) rows, capped at ``MAX_STITCH``), union-found
       over their cross-tile adjacency (``_stitch_pairs``); the labels
       are broadcast-joined back onto the runs as a local relation
       (``_join_labels``), and a run no border links keeps its own node,
    3. one reducer per component traces rings directly from its runs
       (``kernels.raster.trace_rings_from_runs``, applyInArrow over the
       component's (y, xs, xe) columns): O(perimeter) memory — the
       component's dense bbox mask (O(area), OOM at continent scale) is
       never rebuilt.

    The polygons are fetched to the driver and returned as a local
    relation; more than ``MAX_STITCH`` border runs or ``MAX_SHAPES``
    polygons raise ``ValueError``. The run table is released before the
    call returns or raises.
    """
    coef = tuple(float(v) for v in fp._coef)
    schema = _arrow_schema(POLY_SCHEMA)

    def _trace(key, tbl):
        rings_px = raster.trace_rings_from_runs(
            tbl.column('y').to_numpy(), tbl.column('xs').to_numpy(),
            tbl.column('xe').to_numpy())
        rings_w = []
        a, b, c, d, e_, f_ = coef
        for ring in rings_px:
            gx = ring[:, 0]
            gy = ring[:, 1]
            rings_w.append(np.column_stack(
                [gx * a + gy * b + c, gx * d + gy * e_ + f_]))
        areas = [abs(geometry.ring_area(r)) for r in rings_w]
        order = np.argsort(areas)[::-1]
        rings_w = [rings_w[i] for i in order]
        wkb = geometry.wkb_polygon(rings_w[0], rings_w[1:])
        return pa.Table.from_pydict({
            'component_id': [key[0].as_py()],
            'wkb': [wkb],
            'area': [geometry.polygon_area(rings_w)],
            'n_rings': [len(rings_w)],
        }, schema=schema)

    runs = tile_runs(mask_tiles).withColumn('node', F.expr(_NODE_PACK)) \
        .persist()
    try:
        # this fetch is the one scan that fills the ``runs`` cache
        ts = tile_size
        border = fetch(runs.where((F.col('y') % ts == 0) |
                                  ((F.col('y') + 1) % ts == 0) |
                                  (F.col('xs') % ts == 0) |
                                  (F.col('xe') % ts == 0))
                       .select('node', 'y', 'xs', 'xe'),
                       MAX_STITCH, 'raster_ops.MAX_STITCH')
        out = (_join_labels(runs, 'node', *_stitch_pairs(border, ts))
               .select(F.col('comp').alias('component_id'),
                       'y', 'xs', 'xe')
               .groupBy('component_id').applyInArrow(_trace, POLY_SCHEMA))
        polys = fetch(out, MAX_SHAPES, 'raster_ops.MAX_SHAPES')
    finally:
        release_blocks([runs])
    return local_frame(spark, polys, POLY_SCHEMA)


def zonal_stats(spark: SparkSession, fp, polys: DataFrame,
                value_fn=None, tile_size: int = 64) -> DataFrame:
    """Per-zone raster statistics — the GIS ``zonal statistics`` op the
    reference computes array-at-a-time via ``burn_polygons`` + numpy
    masking (reference: buzzard/_footprint.py burn + caller-side
    ``arr[mask]`` reductions): for every polygon, aggregate the value
    raster over the pixels the polygon covers (pixel-center rule,
    identical to :func:`rasterize`)::

        (region_id, n_pixels, v_sum, v_min, v_max)

    ``value_fn(ys, xs) -> int64[h, w]`` produces the value tile from
    GLOBAL pixel row/col index vectors (an analytic or decoded band;
    deterministic, so any tile can be recomputed anywhere — the recipe
    model). Default: ``(17 * x + 31 * y) mod 97`` — a synthetic band the
    DuckDB oracle reproduces exactly in integer arithmetic.

    Scale shape: :func:`rasterize`'s candidate join — tiles ⨝
    broadcast(polys) on bbox — then ONE Python round-trip per tile
    burning all its candidate zones, map-side partial aggregation, final
    exchange only on (small) region ids. Zones may overlap (each aggregates
    independently) — the labelize trick (one burn, one label raster)
    would lose overlapping zones, so the per-(tile, zone) burn is the
    correct general form. An actual stored band drops in by joining the
    value tiles on (tile_y, tile_x) instead of recomputing — the
    aggregation shape is unchanged.
    """
    cand = _tile_candidates(spark, fp, tile_size, polys,
                            ('region_id', 'wkb'))
    gt = tuple(float(v) for v in fp.gt)
    vfn = value_fn if value_fn is not None else (
        lambda ys, xs: (17 * xs[None, :] + 31 * ys[:, None]) % 97)
    schema = _arrow_schema(ZONAL_SCHEMA)

    def _stats(tbl):
        y0, x0, h, w = _window(tbl)
        tile_fp = _tile_fp(gt, y0, x0, h, w)
        ys = np.arange(y0, y0 + h, dtype=np.int64)
        xs = np.arange(x0, x0 + w, dtype=np.int64)
        vals = np.asarray(vfn(ys, xs), dtype=np.int64)
        out = {k: [] for k in schema.names}
        for rid, wkb in zip(tbl.column('region_id').to_pylist(),
                            tbl.column('wkb').to_pylist()):
            mask = raster.burn_polygons(tile_fp, [wkb])
            if not mask.any():
                continue
            mv = vals[mask]
            out['region_id'].append(rid)
            out['n_pixels'].append(int(mask.sum()))
            out['v_sum'].append(int(mv.sum()))
            out['v_min'].append(int(mv.min()))
            out['v_max'].append(int(mv.max()))
        return pa.Table.from_pydict(out, schema=schema)

    return (cand.groupBy('tile_y', 'tile_x')
            .applyInArrow(_stats, ZONAL_SCHEMA)
            .groupBy('region_id')
            .agg(F.sum('n_pixels').alias('n_pixels'),
                 F.sum('v_sum').alias('v_sum'),
                 F.min('v_min').alias('v_min'),
                 F.max('v_max').alias('v_max')))
