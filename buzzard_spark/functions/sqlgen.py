"""Shared SQL expression generators — one source of truth for the Spark
engine (via ``F.expr``) and the DuckDB oracles.

Every fragment is plain ANSI arithmetic accepted verbatim by both Catalyst
and DuckDB, with identical IEEE-754 evaluation order, so engine output and
oracle output match value-for-value. Staying in SQL expressions keeps the
hot path inside whole-stage codegen (no Python UDF) — the engine's
counterpart of buzzard's "all kernels vectorized" rule
(reference: buzzard/_footprint.py:1441-1504 runs per-array in numpy;
here the same affine+floor math runs per-column in Tungsten).

IMPORTANT: every float literal is emitted in exponent notation (``1.5E0``)
— both Spark and DuckDB parse plain ``1.5`` as DECIMAL, which silently
poisons the whole expression tree with slow, differently-rounded decimal
arithmetic. ``dlit`` guarantees a float64 literal with an exact 17-digit
round-trip.
"""

from __future__ import annotations

from buzzard_spark.kernels import cells

# Deterministic geoparsing of a synthetic Common-Crawl-style corpus:
# pages derive (lat, lng) from their integer id (FIXTURES.md F1 semantics,
# Knuth multiplicative constants). Same arithmetic in numpy: synth.py.
LAT_MULT = 2654435761
LNG_MULT = 2246822519
HASH_MOD = 4294967296  # 2^32


def dlit(v: float) -> str:
    """Exact float64 SQL literal (DOUBLE in both Spark and DuckDB)."""
    return '{:.17E}'.format(float(v))


def lat_sql(id_col: str) -> str:
    return ('({neg85} + ((({c} * {m}) % {p}) / {p}E0) * {s170})'
            .format(c=id_col, m=LAT_MULT, p=HASH_MOD,
                    neg85=dlit(-85.0), s170=dlit(170.0)))


def lng_sql(id_col: str) -> str:
    return ('({neg180} + ((({c} * {m}) % {p}) / {p}E0) * {s360})'
            .format(c=id_col, m=LNG_MULT, p=HASH_MOD,
                    neg180=dlit(-180.0), s360=dlit(360.0)))


def lat_cell_row_sql(lat_col: str, res: int) -> str:
    """Row index (iy) of a latitude at resolution — clipped to [0, ny-1]."""
    _, ny = cells.dims(res)
    return ('CAST(LEAST(GREATEST(CAST(FLOOR(({ninety} - {lat}) * {ny} / {s180}) '
            'AS DOUBLE), {zero}), {ymax}) AS BIGINT)'
            .format(lat=lat_col, ny=dlit(ny), s180=dlit(180.0),
                    ninety=dlit(90.0), zero=dlit(0.0), ymax=dlit(ny - 1)))


def lng_cell_col_sql(lng_col: str, res: int) -> str:
    """Column index (ix) of a longitude at resolution — clipped to [0, nx-1]."""
    nx, _ = cells.dims(res)
    return ('CAST(LEAST(GREATEST(CAST(FLOOR(({lng} + {s180}) * {nx} / {s360}) '
            'AS DOUBLE), {zero}), {xmax}) AS BIGINT)'
            .format(lng=lng_col, nx=dlit(nx), s360=dlit(360.0),
                    s180=dlit(180.0), zero=dlit(0.0), xmax=dlit(nx - 1)))


def lat_np(ids):
    """numpy mirror of lat_sql — bitwise-identical doubles."""
    import numpy as np
    ids = np.asarray(ids, dtype=np.int64)
    return -85.0 + ((ids * LAT_MULT) % HASH_MOD) / float(HASH_MOD) * 170.0


def lng_np(ids):
    import numpy as np
    ids = np.asarray(ids, dtype=np.int64)
    return -180.0 + ((ids * LNG_MULT) % HASH_MOD) / float(HASH_MOD) * 360.0


def cell_sql(lat_col: str, lng_col: str, res: int) -> str:
    """Equirectangular cell id — mirrors kernels.cells.cell_of."""
    nx, _ = cells.dims(res)
    return '({iy} * {nx} + {ix})'.format(
        iy=lat_cell_row_sql(lat_col, res), nx=nx,
        ix=lng_cell_col_sql(lng_col, res))


def tile_xy_sql(lat_col: str, lng_col: str, fp) -> tuple[str, str]:
    """spatial_to_raster of a north-up Footprint as SQL — including the
    abstract-grid-density rounding (reference: buzzard/_footprint.py:1491-1501).

    Returns (tile_x_sql, tile_y_sql). The agd constant is computed in
    python float64 from the footprint, then inlined.
    """
    import numpy as np

    from buzzard_spark.env import env
    from buzzard_spark.kernels import affine6

    largest_coord = float(np.abs(fp.coords).max())
    sp = largest_coord * 10 ** -env.significant
    smallest_reso = float(fp.pxsize.min())
    agd = float(np.floor(1 / (sp / smallest_reso)))

    a, b, c, d, e, f = (float(v) for v in affine6.inverse(fp._coef))
    # north-up: b == d == 0
    x_expr = '({lng} * {a} + {c})'.format(lng=lng_col, a=dlit(a), c=dlit(c))
    y_expr = '({lat} * {e} + {f})'.format(lat=lat_col, e=dlit(e), f=dlit(f))
    # snap-to-abstract-grid via FLOOR(u + 0.5), NOT SQL ROUND: Spark's
    # ROUND on doubles allocates a BigDecimal per call — measured 10x
    # slower end-to-end AND it pushes the stage's generated method past
    # the JVM JIT limit (whole stage falls back to the bytecode
    # interpreter). FLOOR arithmetic is identical text in Spark and
    # DuckDB, so oracle parity is exact by construction; it differs from
    # ROUND only for exactly-half-integer u < 0 (measure-zero for
    # hash-derived coordinates, same caveat the HALF_UP/HALF_EVEN gap
    # already carried).
    tx = ('CAST(FLOOR(FLOOR({x} * {agd} + 5E-1) / {agd}) AS BIGINT)'
          .format(x=x_expr, agd=dlit(agd)))
    ty = ('CAST(FLOOR(FLOOR({y} * {agd} + 5E-1) / {agd}) AS BIGINT)'
          .format(y=y_expr, agd=dlit(agd)))
    return tx, ty


# -- synthetic region rectangles (join dimension; FIXTURES.md F2 analogue) --
# Derived from region_id with integer arithmetic; ~2% are "hot" (8× wider),
# inducing the cover-cell/join skew the engine must handle.

def region_cols_sql(id_col: str = 'region_id') -> dict[str, str]:
    clat = ('({m60} + (({c} * 40503) % 997) / {p997} * {s120})'
            .format(c=id_col, m60=dlit(-60.0), p997=dlit(997.0), s120=dlit(120.0)))
    clng = ('({m170} + (({c} * 69621) % 499) / {p499} * {s340})'
            .format(c=id_col, m170=dlit(-170.0), p499=dlit(499.0), s340=dlit(340.0)))
    halfh = ('({two} + ({c} % 5) + CASE WHEN {c} % 50 = 0 THEN {sixteen} '
             'ELSE {zero} END)'.format(c=id_col, two=dlit(2.0),
                                       sixteen=dlit(16.0), zero=dlit(0.0)))
    halfw = ('({three} + ({c} % 7) + CASE WHEN {c} % 50 = 0 THEN {tf} '
             'ELSE {zero} END)'.format(c=id_col, three=dlit(3.0),
                                       tf=dlit(24.0), zero=dlit(0.0)))
    return {
        'clat': clat,
        'clng': clng,
        'halfh': halfh,
        'halfw': halfw,
        'minlat': '({} - {})'.format(clat, halfh),
        'maxlat': '({} + {})'.format(clat, halfh),
        'minlng': '({} - {})'.format(clng, halfw),
        'maxlng': '({} + {})'.format(clng, halfw),
    }


def region_cols_np(region_ids):
    """numpy mirror of region_cols_sql — bitwise-identical doubles."""
    import numpy as np

    r = np.asarray(region_ids, dtype=np.int64)
    clat = -60.0 + ((r * 40503) % 997) / 997.0 * 120.0
    clng = -170.0 + ((r * 69621) % 499) / 499.0 * 340.0
    hot = (r % 50 == 0)
    halfh = 2.0 + (r % 5) + np.where(hot, 16.0, 0.0)
    halfw = 3.0 + (r % 7) + np.where(hot, 24.0, 0.0)
    return {'clat': clat, 'clng': clng, 'halfh': halfh, 'halfw': halfw,
            'minlat': clat - halfh, 'maxlat': clat + halfh,
            'minlng': clng - halfw, 'maxlng': clng + halfw}


# irregular-but-convex CCW pentagon template for polygon regions —
# plain two-decimal constants so SQL oracles can rebuild identical vertices
PENTAGON = ((1.0, 0.0), (0.31, 0.95), (-0.81, 0.59), (-0.81, -0.59), (0.31, -0.95))
