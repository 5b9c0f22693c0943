"""Vectorized geometry kernels: WKB codec + point-in-polygon + bboxes.

shapely is unavailable offline (SURVEY.md §7.0), so the engine ships its
own numpy geometry: a minimal WKB codec (Point / LineString / Polygon /
MultiPolygon, little-endian) and an even-odd ray-casting PIP over
coordinate arrays — the vectorized replacement for the reference's
per-feature ``geom.Intersection`` / OGR spatial filter path
(reference: buzzard/_a_gdal_vector.py:45-103). Everything here is
numpy-only and safe inside pandas UDFs.
"""

from __future__ import annotations

import struct

import numpy as np

_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


# -- WKB encode -----------------------------------------------------------------

def wkb_point(x, y) -> bytes:
    return struct.pack('<BIdd', 1, _WKB_POINT, float(x), float(y))


def wkb_linestring(coords) -> bytes:
    coords = np.asarray(coords, dtype='<f8')
    head = struct.pack('<BII', 1, _WKB_LINESTRING, len(coords))
    return head + coords.tobytes()


def _ring_bytes(ring) -> bytes:
    ring = np.asarray(ring, dtype='<f8')
    if not (ring[0] == ring[-1]).all():
        ring = np.vstack([ring, ring[:1]])
    return struct.pack('<I', len(ring)) + ring.tobytes()


def wkb_polygon(exterior, holes=()) -> bytes:
    out = [struct.pack('<BII', 1, _WKB_POLYGON, 1 + len(holes))]
    out.append(_ring_bytes(exterior))
    for hole in holes:
        out.append(_ring_bytes(hole))
    return b''.join(out)


def wkb_multipolygon(polygons) -> bytes:
    """polygons: sequence of (exterior, holes) pairs."""
    out = [struct.pack('<BII', 1, _WKB_MULTIPOLYGON, len(polygons))]
    for exterior, holes in polygons:
        out.append(wkb_polygon(exterior, holes))
    return b''.join(out)


# -- WKB decode -----------------------------------------------------------------

def _read_u32(buf, off):
    return struct.unpack_from('<I', buf, off)[0], off + 4


def wkb_decode(buf: bytes):
    """→ (geom_type_str, payload):

    - ('point', (x, y))
    - ('linestring', ndarray (N, 2))
    - ('polygon', [ring0, ring1, ...])   ring = ndarray (N, 2), ring0 exterior
    - ('multipolygon', [rings, rings, ...])
    """
    geom, _ = _decode_at(buf, 0)
    return geom


def _decode_at(buf, off):
    byte_order = buf[off]
    assert byte_order == 1, 'big-endian WKB unsupported'
    gtype, off2 = _read_u32(buf, off + 1)
    gtype &= 0xFF  # mask Z/M/SRID flag variants
    if gtype == _WKB_POINT:
        x, y = struct.unpack_from('<dd', buf, off2)
        return ('point', (x, y)), off2 + 16
    if gtype == _WKB_LINESTRING:
        n, off3 = _read_u32(buf, off2)
        arr = np.frombuffer(buf, '<f8', n * 2, off3).reshape(n, 2)
        return ('linestring', arr), off3 + n * 16
    if gtype == _WKB_POLYGON:
        nrings, off3 = _read_u32(buf, off2)
        rings = []
        for _ in range(nrings):
            n, off3 = _read_u32(buf, off3)
            rings.append(np.frombuffer(buf, '<f8', n * 2, off3).reshape(n, 2))
            off3 += n * 16
        return ('polygon', rings), off3
    if gtype == _WKB_MULTIPOLYGON:
        nparts, off3 = _read_u32(buf, off2)
        parts = []
        for _ in range(nparts):
            (kind, rings), off3 = _decode_at(buf, off3)
            assert kind == 'polygon'
            parts.append(rings)
        return ('multipolygon', parts), off3
    raise ValueError('unsupported wkb geometry type %d' % gtype)


# -- point-in-polygon -----------------------------------------------------------

def points_in_ring(px, py, ring) -> np.ndarray:
    """Even-odd ray casting of many points against one ring. Vectorized
    over points AND edges: O(P·E) numpy ops, no Python loop over points."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1 = ring[:-1, 0][None, :]
    y1 = ring[:-1, 1][None, :]
    x2 = ring[1:, 0][None, :]
    y2 = ring[1:, 1][None, :]
    straddles = (y1 > py) != (y2 > py)
    with np.errstate(divide='ignore', invalid='ignore'):
        xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    hits = straddles & (px < xcross)
    return hits.sum(axis=1) % 2 == 1


def points_in_polygon(px, py, rings) -> np.ndarray:
    """PIP with holes: inside exterior, outside every hole (even-odd)."""
    inside = points_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, hole)
    return inside


def points_in_wkb(px, py, buf: bytes) -> np.ndarray:
    kind, payload = wkb_decode(buf)
    if kind == 'polygon':
        return points_in_polygon(px, py, payload)
    if kind == 'multipolygon':
        out = np.zeros(len(np.asarray(px)), dtype=bool)
        for rings in payload:
            out |= points_in_polygon(px, py, rings)
        return out
    raise ValueError('points_in_wkb expects polygon/multipolygon, got %s' % kind)


def clip_ring_rect(ring, minx, miny, maxx, maxy):
    """Sutherland–Hodgman clip of one ring against an axis-aligned rect.
    Returns the clipped (closed) ring or None if empty."""
    ring = np.asarray(ring, dtype=np.float64)
    pts = [tuple(p) for p in ring[:-1]] if (ring[0] == ring[-1]).all() \
        else [tuple(p) for p in ring]

    def clip_edge(points, inside, intersect):
        out = []
        n = len(points)
        for i in range(n):
            cur = points[i]
            prv = points[i - 1]
            cin, pin = inside(cur), inside(prv)
            if cin:
                if not pin:
                    out.append(intersect(prv, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prv, cur))
        return out

    def x_cross(at):
        def f(p, q):
            t = (at - p[0]) / (q[0] - p[0])
            return (at, p[1] + t * (q[1] - p[1]))
        return f

    def y_cross(at):
        def f(p, q):
            t = (at - p[1]) / (q[1] - p[1])
            return (p[0] + t * (q[0] - p[0]), at)
        return f

    pts = clip_edge(pts, lambda p: p[0] >= minx, x_cross(minx))
    if pts:
        pts = clip_edge(pts, lambda p: p[0] <= maxx, x_cross(maxx))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] >= miny, y_cross(miny))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] <= maxy, y_cross(maxy))
    if len(pts) < 3:
        return None
    pts.append(pts[0])
    return np.asarray(pts, dtype=np.float64)


def clip_wkb_rect(buf, minx, miny, maxx, maxy):
    """Clip a WKB polygon/multipolygon/point/linestring to a rect; returns
    clipped WKB or None if nothing remains. Holes are clipped ring-wise
    (adequate for holes that stay inside the rect)."""
    kind, payload = wkb_decode(bytes(buf))
    if kind == 'point':
        x, y = payload
        if minx <= x <= maxx and miny <= y <= maxy:
            return wkb_point(x, y)
        return None
    if kind == 'linestring':
        inside = ((payload[:, 0] >= minx) & (payload[:, 0] <= maxx) &
                  (payload[:, 1] >= miny) & (payload[:, 1] <= maxy))
        if not inside.any():
            return None
        return wkb_linestring(payload)  # conservative: kept whole if touched
    if kind == 'polygon':
        ext = clip_ring_rect(payload[0], minx, miny, maxx, maxy)
        if ext is None:
            return None
        holes = [clip_ring_rect(h, minx, miny, maxx, maxy)
                 for h in payload[1:]]
        return wkb_polygon(ext, [h for h in holes if h is not None])
    if kind == 'multipolygon':
        parts = []
        for rings in payload:
            ext = clip_ring_rect(rings[0], minx, miny, maxx, maxy)
            if ext is None:
                continue
            holes = [clip_ring_rect(h, minx, miny, maxx, maxy)
                     for h in rings[1:]]
            parts.append((ext, [h for h in holes if h is not None]))
        if not parts:
            return None
        return wkb_multipolygon(parts)
    raise ValueError('cannot clip %s' % kind)


def geojson_of_wkb(buf) -> dict:
    """WKB → geojson geometry dict (the reference's geojson codec,
    buzzard/_a_source_vector.py:86-107)."""
    kind, payload = wkb_decode(bytes(buf))
    if kind == 'point':
        return {'type': 'Point', 'coordinates': [float(payload[0]),
                                                 float(payload[1])]}
    if kind == 'linestring':
        return {'type': 'LineString',
                'coordinates': [[float(x), float(y)] for x, y in payload]}
    if kind == 'polygon':
        return {'type': 'Polygon',
                'coordinates': [[[float(x), float(y)] for x, y in ring]
                                for ring in payload]}
    if kind == 'multipolygon':
        return {'type': 'MultiPolygon',
                'coordinates': [[[[float(x), float(y)] for x, y in ring]
                                 for ring in rings] for rings in payload]}
    raise ValueError('cannot encode geometry type %s' % kind)


def coords_of_wkb(buf):
    """WKB → raw coordinate nesting (the reference's 'coordinates' codec —
    same nesting as geojson coordinates)."""
    return geojson_of_wkb(buf)['coordinates']


def clip_ring_convex(subject, clip_ring):
    """Sutherland–Hodgman clip of ``subject`` against a CONVEX ``clip_ring``
    (any orientation, open or closed). Returns the clipped open ring as an
    (N, 2) float64 array (N may be < 3 when the intersection is degenerate
    or empty)."""
    clip = np.asarray(clip_ring, dtype=np.float64)
    if len(clip) > 1 and (clip[0] == clip[-1]).all():
        clip = clip[:-1]
    if ring_area(np.vstack([clip, clip[:1]])) < 0:
        clip = clip[::-1]
    sub = np.asarray(subject, dtype=np.float64)
    pts = [tuple(p) for p in sub[:-1]] if len(sub) > 1 and \
        (sub[0] == sub[-1]).all() else [tuple(p) for p in sub]
    for i in range(len(clip)):
        if not pts:
            break
        ax, ay = clip[i]
        bx, by = clip[(i + 1) % len(clip)]

        def side(p):
            return (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax)

        out = []
        n = len(pts)
        for j in range(n):
            cur, prv = pts[j], pts[j - 1]
            cs, ps = side(cur), side(prv)
            if cs >= 0:
                if ps < 0:
                    t = ps / (ps - cs)
                    out.append((prv[0] + t * (cur[0] - prv[0]),
                                prv[1] + t * (cur[1] - prv[1])))
                out.append(cur)
            elif ps >= 0:
                t = ps / (ps - cs)
                out.append((prv[0] + t * (cur[0] - prv[0]),
                            prv[1] + t * (cur[1] - prv[1])))
        pts = out
    return np.asarray(pts, dtype=np.float64).reshape(-1, 2)


def convex_hull(points):
    """Convex hull (Andrew monotone chain), CCW, no repeated last point."""
    pts = sorted(set(map(tuple, np.asarray(points, dtype=np.float64))))
    if len(pts) <= 2:
        return np.asarray(pts, dtype=np.float64).reshape(-1, 2)

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def half(seq):
        h = []
        for p in seq:
            while len(h) >= 2 and cross(h[-2], h[-1], p) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(reversed(pts))
    return np.asarray(lower[:-1] + upper[:-1], dtype=np.float64)


def min_rotated_rect(points):
    """Minimum-area rotated bounding rectangle of a point set via rotating
    calipers over the convex hull. Returns 4 corners, CCW (the reference's
    shapely ``minimum_rotated_rectangle`` contract,
    buzzard/_footprint_intersection.py:91-118)."""
    hull = convex_hull(points)
    if len(hull) == 1:
        p = hull[0]
        return np.asarray([p, p, p, p])
    if len(hull) == 2:
        a, b = hull
        return np.asarray([a, b, b, a])
    best = None
    for i in range(len(hull)):
        e = hull[(i + 1) % len(hull)] - hull[i]
        norm = float(np.hypot(e[0], e[1]))
        if norm == 0:
            continue
        u = e / norm
        v = np.asarray([-u[1], u[0]])
        pu = hull @ u
        pv = hull @ v
        area = (pu.max() - pu.min()) * (pv.max() - pv.min())
        if best is None or area < best[0]:
            best = (area, u, v, pu.min(), pu.max(), pv.min(), pv.max())
    _, u, v, u0, u1, v0, v1 = best
    corners = np.asarray([
        u0 * u + v0 * v,
        u1 * u + v0 * v,
        u1 * u + v1 * v,
        u0 * u + v1 * v,
    ])
    return corners  # CCW: (u, v) is a right-handed orthonormal frame


# -- polygon helpers ------------------------------------------------------------

def ring_area(ring) -> float:
    """Signed shoelace area (CCW positive)."""
    x = ring[:, 0]
    y = ring[:, 1]
    return float(0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(rings) -> float:
    """Unsigned area with holes subtracted."""
    return abs(ring_area(rings[0])) - sum(abs(ring_area(h)) for h in rings[1:])
