"""Minimal little-endian WKB encode/parse in numpy.

Supported geometry types (all the reference touches — SURVEY.md §1.2):
Point(1), LineString(2), Polygon(3), MultiLineString(5), MultiPolygon(6).

Parsed representation (the "geom tuple"):
    (GeomType.POINT,          ndarray (2,))
    (GeomType.LINESTRING,     ndarray (n, 2))
    (GeomType.POLYGON,        [ring0 (n,2), ring1 ...])   # ring0 = exterior
    (GeomType.MULTILINESTRING,[line (n,2), ...])
    (GeomType.MULTIPOLYGON,   [[ring, ...], ...])

All coordinates float64. The engine writes little-endian WKB only (the
synthetic fixtures are engine-generated, FIXTURES.md §B); the parser also
reads big-endian input, so a foreign blob is re-encoded canonically by any
operator that parses and re-writes it (A3's chain stitch).
"""

from __future__ import annotations

import struct
from enum import IntEnum

import numpy as np

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")
# parse-side formats per WKB byte-order flag (1 = little, 0 = big endian)
_ORDER = {1: (struct.Struct("<I"), "<f8"), 0: (struct.Struct(">I"), ">f8")}


class GeomType(IntEnum):
    POINT = 1
    LINESTRING = 2
    POLYGON = 3
    MULTIPOINT = 4
    MULTILINESTRING = 5
    MULTIPOLYGON = 6


# ---------------------------------------------------------------- encoding

def point_wkb(x: float, y: float) -> bytes:
    return _HDR.pack(1, GeomType.POINT) + struct.pack("<2d", x, y)


def linestring_wkb(coords) -> bytes:
    arr = np.asarray(coords, dtype="<f8").reshape(-1, 2)
    return _HDR.pack(1, GeomType.LINESTRING) + _U32.pack(len(arr)) + arr.tobytes()


def _ring_bytes(ring: np.ndarray) -> bytes:
    arr = np.asarray(ring, dtype="<f8").reshape(-1, 2)
    return _U32.pack(len(arr)) + arr.tobytes()


def polygon_wkb(rings) -> bytes:
    """rings: list of (n,2) arrays; first is the exterior. Rings should be
    closed (first == last vertex); ``make_valid`` closes them if not."""
    if isinstance(rings, np.ndarray):
        rings = [rings]
    out = [_HDR.pack(1, GeomType.POLYGON), _U32.pack(len(rings))]
    out.extend(_ring_bytes(r) for r in rings)
    return b"".join(out)


def multilinestring_wkb(lines) -> bytes:
    out = [_HDR.pack(1, GeomType.MULTILINESTRING), _U32.pack(len(lines))]
    out.extend(linestring_wkb(l) for l in lines)
    return b"".join(out)


def multipolygon_wkb(polys) -> bytes:
    out = [_HDR.pack(1, GeomType.MULTIPOLYGON), _U32.pack(len(polys))]
    out.extend(polygon_wkb(p) for p in polys)
    return b"".join(out)


# ---------------------------------------------------------------- parsing

def _read_coords(buf: memoryview, off: int, u32=_U32, f8="<f8"):
    (n,) = u32.unpack_from(buf, off)
    off += 4
    arr = np.frombuffer(buf, dtype=f8, count=2 * n, offset=off).reshape(n, 2)
    if f8 != "<f8":
        arr = arr.astype("<f8")
    return arr, off + 16 * n


def _parse_at(buf: memoryview, off: int):
    byte_order = buf[off]
    if byte_order not in _ORDER:
        raise ValueError(f"invalid WKB byte order {byte_order}")
    u32, f8 = _ORDER[byte_order]
    (gtype,) = u32.unpack_from(buf, off + 1)
    off += 5
    gtype = GeomType(gtype & 0xFF)  # mask any SRID/Z flags (we never set them)
    if gtype == GeomType.POINT:
        arr = np.frombuffer(buf, dtype=f8, count=2, offset=off)
        return (gtype, arr.astype("<f8")), off + 16
    if gtype == GeomType.LINESTRING:
        arr, off = _read_coords(buf, off, u32, f8)
        return (gtype, arr), off
    if gtype == GeomType.POLYGON:
        (nrings,) = u32.unpack_from(buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_coords(buf, off, u32, f8)
            rings.append(ring)
        return (gtype, rings), off
    if gtype in (GeomType.MULTILINESTRING, GeomType.MULTIPOLYGON):
        (ngeom,) = u32.unpack_from(buf, off)
        off += 4
        parts = []
        for _ in range(ngeom):
            (_, part), off = _parse_at(buf, off)
            parts.append(part)
        return (gtype, parts), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def parse_wkb(wkb: bytes):
    """Parse one WKB blob into a geom tuple (see module docstring)."""
    geom, _ = _parse_at(memoryview(wkb), 0)
    return geom
