"""Hierarchical equirectangular cell index (H3-style API, pure numpy).

The engine's spatial equi-join key. h3/s2 are unavailable offline
(SURVEY.md §7.0), so the index is a deterministic lat/lng grid with an
h3-compatible surface — ``cell(lat, lng, res)``, ``ring(cell, k)``,
``parent`` / ``children`` — chosen so that cell assignment is expressible
both as vectorized numpy (pandas UDFs) and as pure SQL arithmetic
(Catalyst columns + DuckDB oracles). Swap in real h3 by replacing this
module; the operator layer only uses this API.

Layout at resolution r: ny = 4·2^r rows over lat [-90, 90] (row 0 at the
north pole), nx = 8·2^r columns over lng [-180, 180). cell_id = iy·nx + ix.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 24


def dims(res):
    """(nx, ny) at resolution."""
    return 8 << res, 4 << res


def cell_size_deg(res):
    """(width, height) of a cell in degrees."""
    nx, ny = dims(res)
    return 360.0 / nx, 180.0 / ny


def cell_of(lat, lng, res):
    """Vectorized cell assignment. lat/lng scalars or ndarrays → int64."""
    nx, ny = dims(res)
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    iy = np.floor((90.0 - lat) * float(ny) / 180.0)
    iy = np.minimum(np.maximum(iy, 0.0), float(ny - 1)).astype(np.int64)
    ix = np.floor((lng + 180.0) * float(nx) / 360.0)
    ix = np.minimum(np.maximum(ix, 0.0), float(nx - 1)).astype(np.int64)
    return iy * nx + ix


def cell_xy(cell, res):
    """cell_id → (ix, iy)."""
    nx, _ = dims(res)
    cell = np.asarray(cell, dtype=np.int64)
    return cell % nx, cell // nx


def cell_bounds(cell, res):
    """cell_id → (minlng, minlat, maxlng, maxlat)."""
    nx, ny = dims(res)
    ix, iy = cell_xy(cell, res)
    w, h = 360.0 / nx, 180.0 / ny
    minlng = -180.0 + ix * w
    maxlat = 90.0 - iy * h
    return minlng, maxlat - h, minlng + w, maxlat


def ring(cell, k, res):
    """All cells within Chebyshev distance k of `cell` (incl. itself).

    Longitude wraps; latitude rows are clipped at the poles. Scalar cell →
    1-D int64 array (the distributed analogue explodes this per query row).
    """
    nx, ny = dims(res)
    ix, iy = cell_xy(np.int64(cell), res)
    ys = np.arange(max(0, int(iy) - k), min(ny - 1, int(iy) + k) + 1, dtype=np.int64)
    xs = (np.arange(int(ix) - k, int(ix) + k + 1, dtype=np.int64)) % nx
    xs = np.unique(xs)
    yy, xx = np.meshgrid(ys, xs, indexing='ij')
    return (yy * nx + xx).ravel()


def parent(cell, res, parent_res):
    """Containing cell at a coarser resolution."""
    if parent_res > res:
        raise ValueError('parent_res must be <= res')
    shift = res - parent_res
    nx, _ = dims(res)
    pnx, _ = dims(parent_res)
    ix, iy = cell_xy(cell, res)
    return (iy >> shift) * pnx + (ix >> shift)


def children(cell, res, child_res):
    """All contained cells at a finer resolution (scalar cell)."""
    if child_res < res:
        raise ValueError('child_res must be >= res')
    shift = child_res - res
    cnx, _ = dims(child_res)
    ix, iy = cell_xy(np.int64(cell), res)
    ys = (int(iy) << shift) + np.arange(1 << shift, dtype=np.int64)
    xs = (int(ix) << shift) + np.arange(1 << shift, dtype=np.int64)
    yy, xx = np.meshgrid(ys, xs, indexing='ij')
    return (yy * cnx + xx).ravel()


def cover_rect(minlat, minlng, maxlat, maxlng, res):
    """Cells intersecting a lat/lng rectangle (scalar inputs → 1-D array).

    The distributed analogue (operators.spatial_join) generates the same
    set with sequence()+explode so Catalyst keeps it JVM-side.
    """
    nx, ny = dims(res)
    iy0 = int(np.clip(np.floor((90.0 - maxlat) * ny / 180.0), 0, ny - 1))
    iy1 = int(np.clip(np.floor((90.0 - minlat) * ny / 180.0), 0, ny - 1))
    ix0 = int(np.clip(np.floor((minlng + 180.0) * nx / 360.0), 0, nx - 1))
    ix1 = int(np.clip(np.floor((maxlng + 180.0) * nx / 360.0), 0, nx - 1))
    ys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    xs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    yy, xx = np.meshgrid(ys, xs, indexing='ij')
    return (yy * nx + xx).ravel()
