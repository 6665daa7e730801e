"""ST_AsEncodedPolyline / ST_LineFromEncodedPolyline — the Google
Encoded Polyline Algorithm Format (the published public spec; PostGIS
exposes the same pair, which the reference forwards verbatim via
src/index.ts:44-63).

Encoding (per the spec): vertices are (lat, lng) = (y, x) pairs,
each scaled by 10^precision and rounded HALF AWAY FROM ZERO (C's
round(), which PostGIS uses), delta-encoded against the previous
vertex, zigzag-mapped (left shift 1, bitwise NOT when negative),
split into little-endian 5-bit chunks, each chunk OR 0x20 while more
follow, + 63, emitted as ASCII. Decoding reverses exactly.

Engine semantics:

- input must be a 2-D LINESTRING (PostGIS requires lon/lat line input;
  Z / M / areal / junk → loud NULL). ``LINESTRING EMPTY`` encodes to
  the empty string and the empty string decodes back to it.
- ``precision`` is taken explicitly (fixed 2-arg registration — the
  engine's st_asewkb convention for PostGIS optional args); PostGIS's
  default is 5. Bounds [0, 8]: past 8 the scaled int32 range of the
  published format overflows for longitudes.
- decoding validates strictly: characters below 63, a dangling
  continuation chunk, or a lone vertex (not a LINESTRING) → NULL.
- non-finite coordinates → NULL; coordinates whose scaled magnitude
  exceeds 2^31 − 1 (the format's signed-32-bit envelope) → NULL
  rather than a silently wrapped encoding.

The driver family pins the spec's own published example
((38.5, -120.2), (40.7, -120.95), (43.252, -126.453) →
``_p~iF~ps|U_ulLnnqC_mqNvxq`@``) and integer-coordinate round-trips
(exact at every precision: scaled values and their quotients are
dyadic-exact doubles).

Scale shape: map-only Arrow-batched pandas UDFs — per-row string
work, no shuffle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .wkt import _safe

_MAX_PRECISION = 8
_I32 = 2**31 - 1


def _round_half_away(v: float) -> int:
    return math.floor(v + 0.5) if v >= 0 else -math.floor(-v + 0.5)


def _emit_int(v: int, out: list) -> None:
    u = ~(v << 1) if v < 0 else (v << 1)
    while u >= 0x20:
        out.append(chr((0x20 | (u & 0x1F)) + 63))
        u >>= 5
    out.append(chr(u + 63))


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
    if not 0 <= p <= _MAX_PRECISION:
        return None
    return p


def encode_polyline(wkt, precision) -> str | None:
    p = _prec(precision)
    if p is None or wkt is None:
        return None
    s = str(wkt).strip()
    if s.upper() == "LINESTRING EMPTY":
        return ""
    g = G.parse_wkt(s)
    if g is None or g.kind != "LineString":
        return None
    scale = 10**p
    out: list = []
    prev_lat = prev_lng = 0
    for x, y in g.coords:
        if not (math.isfinite(x) and math.isfinite(y)):
            return None
        lat, lng = _round_half_away(y * scale), _round_half_away(x * scale)
        if abs(lat) > _I32 or abs(lng) > _I32:
            return None  # outside the format's signed-32-bit envelope
        _emit_int(lat - prev_lat, out)
        _emit_int(lng - prev_lng, out)
        prev_lat, prev_lng = lat, lng
    return "".join(out)


def decode_polyline(text, precision) -> str | None:
    p = _prec(precision)
    if p is None or text is None:
        return None
    s = str(text)
    if s == "":
        return "LINESTRING EMPTY"
    vals: list[int] = []
    acc = 0
    shift = 0
    for ch in s:
        c = ord(ch) - 63
        if c < 0 or c > 0x3F:
            return None
        acc |= (c & 0x1F) << shift
        shift += 5
        if not c & 0x20:
            vals.append(~(acc >> 1) if acc & 1 else (acc >> 1))
            acc = 0
            shift = 0
    if shift:  # dangling continuation chunk
        return None
    if len(vals) % 2 or len(vals) < 4:
        # odd stream or a single vertex: not a LINESTRING
        return None
    scale = 10**p
    pts = []
    lat = lng = 0
    for i in range(0, len(vals), 2):
        lat += vals[i]
        lng += vals[i + 1]
        pts.append((lng / scale, lat / scale))
    return G.to_wkt(G.Geometry("LineString", pts))


@pandas_udf(StringType())
def st_asencodedpolyline(w: pd.Series, p: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(encode_polyline, a, b) for a, b in zip(w, p)], dtype="object"
    )


@pandas_udf(StringType())
def st_linefromencodedpolyline(t: pd.Series, p: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(decode_polyline, a, b) for a, b in zip(t, p)], dtype="object"
    )


ALL_POLYLINE_FUNCTIONS = {
    "st_asencodedpolyline": st_asencodedpolyline,
    "st_linefromencodedpolyline": st_linefromencodedpolyline,
}
