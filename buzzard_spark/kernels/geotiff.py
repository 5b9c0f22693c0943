"""Baseline TIFF / GeoTIFF codec, stdlib + numpy only (no GDAL).

The reference opens and writes rasters through GDAL's GTiff driver
(buzzard/_a_gdal_raster.py); this is the dependency-free equivalent for
the engine's raster export (``raster_io.window_geotiff``) and for reading
a GeoTIFF's georeferencing back into a :class:`Footprint`:

- ``decode_tiff`` / ``encode_tiff`` — first-IFD baseline TIFF, both byte
  orders, 8-bit greyscale or RGB, multi-strip, uncompressed or PackBits.
- ``tiff_geo`` / ``geotiff_footprint`` — the GeoTIFF ModelPixelScale
  (33550) and ModelTiepoint (33922) tags as (tlx, tly, sx, sy) and as a
  north-up Footprint.
"""

from __future__ import annotations

import struct

import numpy as np

from buzzard_spark.kernels.footprint import Footprint


def _tiff_ifd(payload: bytes):
    """Parse the first IFD of a baseline TIFF: returns (byteorder,
    {tag: (type, values_tuple)}). Types handled: SHORT(3), LONG(4),
    RATIONAL(5 — as float), DOUBLE(12). Public spec: TIFF 6.0 (Adobe,
    1992) + the GeoTIFF tag registry (OGC GeoTIFF standard)."""
    if payload[:2] == b'II':
        bo = '<'
    elif payload[:2] == b'MM':
        bo = '>'
    else:
        raise ValueError('not a TIFF payload')
    magic, = struct.unpack(bo + 'H', payload[2:4])
    if magic != 42:
        raise ValueError(f'bad TIFF magic {magic}')
    off, = struct.unpack(bo + 'I', payload[4:8])
    n, = struct.unpack(bo + 'H', payload[off:off + 2])
    sizes = {3: 2, 4: 4, 5: 8, 12: 8}
    fmts = {3: 'H', 4: 'I', 12: 'd'}
    tags = {}
    for i in range(n):
        e = payload[off + 2 + 12 * i: off + 14 + 12 * i]
        tag, typ, cnt = struct.unpack(bo + 'HHI', e[:8])
        if typ not in sizes:
            continue
        nbytes = sizes[typ] * cnt
        if nbytes <= 4:
            raw = e[8:8 + nbytes]
        else:
            voff, = struct.unpack(bo + 'I', e[8:12])
            raw = payload[voff:voff + nbytes]
        if typ == 5:                     # RATIONAL: pairs of LONG
            parts = struct.unpack(bo + f'{2 * cnt}I', raw)
            vals = tuple(parts[2 * j] / parts[2 * j + 1]
                         for j in range(cnt))
        else:
            vals = struct.unpack(bo + f'{cnt}{fmts[typ]}', raw)
        tags[tag] = (typ, vals)
    return bo, tags


def _packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits RLE (TIFF 6.0 §9, Apple PackBits): n in [0,127] →
    copy n+1 literal bytes; n in [-127,-1] → repeat next byte 1-n times;
    -128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n >= 0:
            out += data[i:i + n + 1]
            i += n + 1
        elif n != -128:
            out += data[i:i + 1] * (1 - n)
            i += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits encoder (fixture helper): greedy runs ≥ 3 as repeats,
    the rest as literal groups of ≤ 128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([(1 - run) & 0xFF, data[i]])
            i += run
        else:
            j = i + run
            while j < n and j - i < 128:
                r2 = 1
                while j + r2 < n and r2 < 3 and data[j + r2] == data[j]:
                    r2 += 1
                if r2 >= 3:
                    break
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out)


def decode_tiff(payload: bytes) -> np.ndarray:
    """Decode a baseline TIFF (the reference's home format family —
    buzzard opens rasters through GDAL's GTiff driver,
    buzzard/_a_gdal_raster.py): both byte orders, 8-bit greyscale or RGB,
    multi-strip layouts, uncompressed or PackBits-compressed strips.
    Returns (h, w) or (h, w, 3) uint8."""
    bo, tags = _tiff_ifd(payload)

    def one(tag, default=None):
        if tag not in tags:
            if default is None:
                raise ValueError(f'missing required TIFF tag {tag}')
            return default
        return int(tags[tag][1][0])

    w, h = one(256), one(257)
    comp = one(259, 1)
    if comp not in (1, 32773):
        raise ValueError(f'only uncompressed/PackBits TIFF supported '
                         f'(got compression={comp})')
    spp = one(277, 1)
    bps = tags.get(258, (3, (8,) * spp))[1]
    if any(int(b) != 8 for b in bps):
        raise ValueError(f'only 8-bit samples supported (got {bps})')
    if spp not in (1, 3):
        raise ValueError(f'only grey/RGB supported (spp={spp})')
    offs = tags[273][1]
    cnts = tags[279][1]
    strips = [payload[o:o + c] for o, c in zip(offs, cnts)]
    if comp == 32773:
        strips = [_packbits_decode(s) for s in strips]
    data = b''.join(strips)
    arr = np.frombuffer(data, dtype=np.uint8, count=h * w * spp)
    return (arr.reshape(h, w) if spp == 1
            else arr.reshape(h, w, 3)).copy()


def tiff_geo(payload: bytes):
    """(tlx, tly, sx, sy) from the GeoTIFF ModelPixelScale (33550) and
    ModelTiepoint (33922) tags (raster-space origin tiepoints only)."""
    _, tags = _tiff_ifd(payload)
    if 33550 not in tags or 33922 not in tags:
        raise ValueError('no GeoTIFF scale/tiepoint tags')
    sx, sy = tags[33550][1][0], tags[33550][1][1]
    i, j, _k, x, y, _z = tags[33922][1][:6]
    if i != 0 or j != 0:
        raise ValueError('non-origin tiepoint not supported')
    return float(x), float(y), float(sx), float(sy)


def geotiff_footprint(payload: bytes):
    """GeoTIFF bytes → the engine's Footprint (north-up): the no-GDAL
    version of the reference's open-raster → fp path
    (buzzard/_a_gdal_raster.py: GetGeoTransform → Footprint)."""
    bo, tags = _tiff_ifd(payload)
    w = int(tags[256][1][0])
    h = int(tags[257][1][0])
    tlx, tly, sx, sy = tiff_geo(payload)
    return Footprint(gt=(tlx, sx, 0.0, tly, 0.0, -sy),
                     rsize=(w, h))


def encode_tiff(arr: np.ndarray, geo=None, big_endian: bool = False,
                rows_per_strip: int | None = None,
                packbits: bool = False) -> bytes:
    """(h, w) or (h, w, 3) uint8 → baseline TIFF bytes (multi-strip,
    either byte order, optionally PackBits-compressed strips);
    ``geo=(tlx, tly, sx, sy)`` writes GeoTIFF ModelPixelScale +
    ModelTiepoint tags. ``raster_io.window_geotiff`` writes its export
    through this."""
    bo = '>' if big_endian else '<'
    arr = np.asarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    spp = 1 if arr.ndim == 2 else arr.shape[2]
    rps = rows_per_strip or h
    body = arr.tobytes()
    row_bytes = w * spp
    strips = [body[r * row_bytes:(r + rps) * row_bytes]
              for r in range(0, h, rps)]
    if packbits:
        strips = [_packbits_encode(s) for s in strips]

    entries = []          # (tag, type, count, packed_or_values)
    extra = bytearray()   # out-of-line values, appended after the IFD

    def ent(tag, typ, vals, fmt):
        raw = struct.pack(bo + f'{len(vals)}{fmt}', *vals)
        entries.append((tag, typ, len(vals), raw))

    ent(256, 4, [w], 'I')
    ent(257, 4, [h], 'I')
    ent(258, 3, [8] * spp, 'H')
    ent(259, 3, [32773 if packbits else 1], 'H')
    ent(262, 3, [1 if spp == 1 else 2], 'H')
    ent(277, 3, [spp], 'H')
    ent(278, 4, [rps], 'I')
    ent(279, 4, [len(s) for s in strips], 'I')
    if geo is not None:
        tlx, tly, sx, sy = geo
        ent(33550, 12, [float(sx), float(sy), 0.0], 'd')
        ent(33922, 12, [0.0, 0.0, 0.0, float(tlx), float(tly), 0.0], 'd')
    # strip offsets resolved last (need total header size)
    n_entries = len(entries) + 1                       # + StripOffsets
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    data_start = ifd_off + ifd_size
    # lay out out-of-line values first, then strips
    packed = []
    for tag, typ, cnt, raw in entries:
        if len(raw) <= 4:
            packed.append((tag, typ, cnt, raw.ljust(4, b'\0'), None))
        else:
            packed.append((tag, typ, cnt, None, len(extra)))
            extra.extend(raw)
    strips_start = data_start + len(extra) + 4 * len(strips) \
        if len(strips) > 1 else data_start + len(extra)
    soff_vals = []
    pos = strips_start
    for s in strips:
        soff_vals.append(pos)
        pos += len(s)
    soff_raw = struct.pack(bo + f'{len(strips)}I', *soff_vals)
    if len(soff_raw) <= 4:
        soff_entry = (273, 4, len(strips), soff_raw.ljust(4, b'\0'), None)
    else:
        soff_entry = (273, 4, len(strips), None, len(extra))
        extra.extend(soff_raw)
    all_entries = sorted(packed + [soff_entry])
    out = bytearray()
    out += (b'II' if bo == '<' else b'MM')
    out += struct.pack(bo + 'HI', 42, ifd_off)
    out += struct.pack(bo + 'H', n_entries)
    for tag, typ, cnt, inline, eoff in all_entries:
        out += struct.pack(bo + 'HHI', tag, typ, cnt)
        if inline is not None:
            out += inline
        else:
            out += struct.pack(bo + 'I', data_start + eoff)
    out += struct.pack(bo + 'I', 0)                    # next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)
