"""ST_AsTWKB / ST_GeomFromTWKB — the "Tiny Well-Known Binary" format
(the published TWKB specification; PostGIS exposes the same pair,
forwarded verbatim by the reference via src/index.ts:44-63).

Layout (per the spec):

- type-and-precision byte: low nibble = geometry type (1 Point …
  7 GeometryCollection), high nibble = ZIGZAG-encoded XY precision
  (signed decimal digits, range [-8, 7]).
- metadata byte: 0x01 bbox, 0x02 size, 0x04 idlist, 0x08 extended
  dimensions (Z/M), 0x10 empty geometry.
- optional extended-dimensions byte: 0x01 hasZ, 0x02 hasM, bits 2-4
  unsigned Z precision, bits 5-7 unsigned M precision.
- optional size varint, optional bbox (per-dimension zigzag min +
  zigzag delta) — the READER accepts and skips both (and idlists);
  the WRITER emits neither (PostGIS's defaults).
- body: counts as unsigned varints, coordinates as zigzag varint
  DELTAS against the running last-scaled-coordinate state, carried
  across rings and Multi* parts (collection members are full nested
  TWKBs, so their state restarts).
- polygon rings: the closing vertex is OMITTED on write (the spec's
  implied-closure option, what PostGIS emits); the reader re-closes —
  and also accepts rings that carry the duplicate closing point.

Engine semantics:

- ``st_astwkb(g, prec)`` — explicit XY precision (PostGIS's default
  is 0), range [-7, 7] (-8 is reserved headroom on the nibble);
  rounding is HALF AWAY FROM ZERO like the C round() PostGIS uses.
  2-D / Z / M / ZM input via the engine's codecs (Z and M encode at
  min(max(prec, 0), 7) since their nibble precisions are unsigned);
  surfaces and curves are outside TWKB's type table → loud NULL.
  Typed EMPTY encodes with the empty bit and no body.
- ``st_geomfromtwkb(buf)`` — strict decode: truncated buffers,
  unknown types, trailing bytes, or implausible counts → NULL.

Driver family pins the spec's own worked examples (POINT(1 1) prec 0
→ 01 00 02 02; LINESTRING(1 1, 5 5) → 02 00 02 02 02 08 08) plus
exact integer-coordinate round-trips.

Scale shape: map-only Arrow-batched pandas UDFs — per-row byte work,
no shuffle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

from . import geometry as G
from . import wkb as _wkb
from .geometry import Geometry
from .wkt import _safe

_TYPE_CODE = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
_CODE_TYPE = {v: k for k, v in _TYPE_CODE.items()}

_MAX_COUNT = 10_000_000
_MAX_DEPTH = 32


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else (-v << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if not u & 1 else -((u + 1) >> 1)


def _varint(u: int) -> bytes:
    out = bytearray()
    while u >= 0x80:
        out.append(0x80 | (u & 0x7F))
        u >>= 7
    out.append(u)
    return bytes(out)


def _round_half_away(v: float) -> int:
    return math.floor(v + 0.5) if v >= 0 else -math.floor(-v + 0.5)


class _Writer:
    """Carries the running last-scaled-coordinate state per dimension."""

    __slots__ = ("buf", "last")

    def __init__(self, ndims: int):
        self.buf = bytearray()
        self.last = [0] * ndims

    def count(self, n: int) -> None:
        self.buf += _varint(n)

    def point(self, scaled: list[int]) -> None:
        for i, v in enumerate(scaled):
            self.buf += _varint(_zigzag(v - self.last[i]))
            self.last[i] = v


def _scale_pt(p, scales) -> list[int] | None:
    out = []
    for v, sc in zip(p, scales):
        if not math.isfinite(v):
            return None
        out.append(_round_half_away(v * sc))
    return out


def _prec(precision) -> int | None:
    if precision is None:
        return None
    try:
        p = int(precision)
    except (TypeError, ValueError):
        return None
    if isinstance(precision, float) and (
        math.isnan(precision) or precision != p
    ):
        return None
    if not -7 <= p <= 7:
        return None
    return p


def _encode_body(kind: str, z: bool, m: bool, payload, w: _Writer, scales):
    """Appends the body; raises ValueError on non-finite coordinates."""

    def sp(p):
        s = _scale_pt(p, scales)
        if s is None:
            raise ValueError("non-finite coordinate")
        return s

    if kind == "Point":
        w.point(sp(payload if (z or m) else tuple(payload)))
        return
    if kind in ("LineString", "MultiPoint"):
        w.count(len(payload))
        for p in payload:
            w.point(sp(p))
        return
    if kind in ("Polygon", "MultiLineString"):
        w.count(len(payload))
        for chain in payload:
            pts = chain
            if kind == "Polygon" and len(pts) > 1 and pts[0] == pts[-1]:
                pts = pts[:-1]  # implied ring closure (spec option)
            w.count(len(pts))
            for p in pts:
                w.point(sp(p))
        return
    if kind == "MultiPolygon":
        w.count(len(payload))
        for rings in payload:
            w.count(len(rings))
            for ring in rings:
                pts = ring[:-1] if len(ring) > 1 and ring[0] == ring[-1] else ring
                w.count(len(pts))
                for p in pts:
                    w.point(sp(p))
        return
    raise ValueError(f"unsupported TWKB kind {kind}")


def wkt_to_twkb(wkt, precision) -> bytes | None:
    p = _prec(precision)
    if p is None or wkt is None:
        return None
    s = str(wkt).strip()
    parsed = _wkb._parse_any(s)
    if parsed is None:
        return None
    kind, z, m, payload = parsed
    if m and not z and kind in ("Polygon", "MultiPolygon", "GeometryCollection"):
        return None  # outside the measure codec's kinds (wkb.py gate)
    return _encode_geom(kind, z, m, payload, p)


def _encode_geom(kind, z, m, payload, p: int) -> bytes | None:
    head = bytearray([_TYPE_CODE[kind] | (_zigzag(p) << 4)])
    empty = (kind == "Point" and payload == ()) or (
        kind != "Point" and not payload
    )
    meta = 0x10 if empty else 0
    dims_byte = None
    if z or m:
        zp = mp = min(max(p, 0), 7)  # unsigned 3-bit nibbles
        dims_byte = (
            (0x01 if z else 0)
            | (0x02 if m else 0)
            | ((zp if z else 0) << 2)
            | ((mp if m else 0) << 5)
        )
        meta |= 0x08
    head.append(meta)
    if dims_byte is not None:
        head.append(dims_byte)
    if empty:
        return bytes(head)
    ndims = 2 + (1 if z else 0) + (1 if m else 0)
    xy_scale = 10.0**p
    zm_scale = 10.0 ** min(max(p, 0), 7)
    scales = [xy_scale, xy_scale] + [zm_scale] * (ndims - 2)
    w = _Writer(ndims)
    try:
        if kind == "GeometryCollection":
            w.count(len(payload))
            for sub in payload:
                # members are full nested TWKBs (2-D Geometry objects)
                member = _encode_geom(sub.kind, False, False, sub.coords, p)
                if member is None:
                    return None
                w.buf += member
        else:
            _encode_body(kind, z, m, payload, w, scales)
    except ValueError:
        return None
    return bytes(head) + bytes(w.buf)


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def byte(self) -> int:
        if self.pos >= len(self.buf):
            raise ValueError("truncated TWKB")
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        u = 0
        shift = 0
        while True:
            if shift > 63:
                raise ValueError("varint overflow")
            b = self.byte()
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                return u
            shift += 7


def _read_geom(r: _Reader, depth: int = 0):
    """→ (kind, z, m, payload) in the wkb codec payload shapes."""
    if depth > _MAX_DEPTH:
        raise ValueError("nesting too deep")
    tp = r.byte()
    code = tp & 0x0F
    if code not in _CODE_TYPE:
        raise ValueError(f"unknown TWKB type {code}")
    kind = _CODE_TYPE[code]
    p = _unzigzag(tp >> 4)
    meta = r.byte()
    z = m = False
    zp = mp = 0
    if meta & 0x08:
        ext = r.byte()
        z, m = bool(ext & 0x01), bool(ext & 0x02)
        zp, mp = (ext >> 2) & 0x07, (ext >> 5) & 0x07
    if meta & 0x02:  # size varint: read and ignore (bounded by buffer)
        r.varint()
    ndims = 2 + (1 if z else 0) + (1 if m else 0)
    if meta & 0x01:  # bbox: per-dim zigzag min + delta — skip
        for _ in range(2 * ndims):
            r.varint()
    if meta & 0x10:  # empty
        return (kind, z, m, () if kind == "Point" else [])
    # p >= 0 descales by exact-integer division (correctly rounded);
    # p < 0 by exact-integer multiplication — never multiply by an
    # inexact negative power of ten (double rounding)
    precs = [p, p] + ([zp] if z else []) + ([mp] if m else [])
    last = [0] * ndims

    def count() -> int:
        n = r.varint()
        if n > _MAX_COUNT:
            raise ValueError("implausible count")
        return n

    def pt():
        for i in range(ndims):
            last[i] += _unzigzag(r.varint())
        return tuple(
            last[i] / 10**precs[i] if precs[i] >= 0
            else float(last[i] * 10 ** -precs[i])
            for i in range(ndims)
        )

    def close_ring(ring: list) -> list:
        if len(ring) >= 1 and (len(ring) < 2 or ring[0] != ring[-1]):
            ring = ring + [ring[0]]
        return ring

    if kind == "Point":
        return (kind, z, m, pt())
    if kind == "MultiPoint":
        n = count()
        if meta & 0x04:  # idlist: one varint per member — skip
            for _ in range(n):
                r.varint()
        return (kind, z, m, [pt() for _ in range(n)])
    if kind == "LineString":
        return (kind, z, m, [pt() for _ in range(count())])
    if kind in ("Polygon", "MultiLineString"):
        n = count()
        chains = []
        for _ in range(n):
            ch = [pt() for _ in range(count())]
            chains.append(close_ring(ch) if kind == "Polygon" else ch)
        return (kind, z, m, chains)
    if kind == "MultiPolygon":
        n = count()
        polys = []
        for _ in range(n):
            rings = []
            for _ in range(count()):
                rings.append(close_ring([pt() for _ in range(count())]))
            polys.append(rings)
        return (kind, z, m, polys)
    # GeometryCollection: nested full TWKBs
    n = count()
    if meta & 0x04:
        for _ in range(n):
            r.varint()
    members = []
    for _ in range(n):
        sub_kind, sub_z, sub_m, sub_payload = _read_geom(r, depth + 1)
        if sub_z or sub_m:
            raise ValueError("dimensional collection member unsupported")
        members.append(Geometry(sub_kind, sub_payload))
    return (kind, z, m, members)


def twkb_to_wkt(buf) -> str | None:
    if buf is None:
        return None
    try:
        b = bytes(buf)
        r = _Reader(b)
        kind, z, m, payload = _read_geom(r)
        if r.pos != len(b):
            raise ValueError("trailing bytes after geometry")
    except (ValueError, TypeError):
        return None
    if (kind == "Point" and payload == ()) or (
        kind != "Point" and not payload
    ):
        tag = (" ZM" if m else " Z") if z else (" M" if m else "")
        return f"{kind.upper()}{tag} EMPTY"
    try:
        return _wkb._dims_to_wkt(kind, z, m, payload)
    except Exception:
        return None


@pandas_udf(BinaryType())
def st_astwkb(w: pd.Series, p: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(wkt_to_twkb, a, b) for a, b in zip(w, p)], dtype="object"
    )


@pandas_udf(StringType())
def st_geomfromtwkb(b: pd.Series) -> pd.Series:
    return pd.Series([_safe(twkb_to_wkt, x) for x in b], dtype="object")


ALL_TWKB_FUNCTIONS = {
    "st_astwkb": st_astwkb,
    "st_geomfromtwkb": st_geomfromtwkb,
}
