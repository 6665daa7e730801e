"""Geohash codec: ST_GeoHash / ST_PointFromGeoHash / ST_GeomFromGeoHash
(F12 remainder, r14 continuation). The reference forwards any
PostGIS-accepted function name verbatim (src/index.ts:44-63); geohash
is the textbook spatial bucketing key — at 100 TB a geohash prefix is a
shuffle/partition key that turns proximity joins into per-cell joins
and parquet files sorted by it cluster spatially (the grid-cell idiom
of SCALE.md with a string key).

Semantics (PostGIS lwalgorithm.c `geohash_point` /
`lwgeom_geohash_precision` parity):

- ``st_geohash(wkt, maxchars)`` — base-32 geohash
  (alphabet ``0123456789bcdefghjkmnpqrstuvwxyz``, bits interleaved
  longitude-first over [-180,180]×[-90,90]) of the geometry's bbox
  CENTER. ``maxchars > 0`` pins the length; ``maxchars <= 0``/NULL
  derives it like PostGIS: the longest prefix (cap 20) whose cell
  still contains the whole bbox — a point gets the full 20 chars, a
  box gets the common prefix of its corners, and a box straddling a
  cell boundary at depth 0 gets '' (PostGIS returns the empty string
  there too). Coordinates outside lon/lat range are a loud NULL
  (PostGIS raises "ST_GeoHash requires lon/lat coordinates").
- ``st_pointfromgeohash(h, precision)`` — the CENTER point of the
  cell named by the first ``precision`` chars (``<= 0``/NULL → the
  whole string). Cell edges are dyadic subdivisions of the world box,
  so centers are exact doubles. Invalid base-32 chars → loud NULL.
- ``st_geomfromgeohash(h, precision)`` — the cell as a CCW POLYGON
  from the min corner: (W S, E S, E N, W N, W S).

All three are Arrow-batched pandas UDFs, map-only (no shuffle).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32_INDEX = {c: i for i, c in enumerate(_B32)}
_MAX_CHARS = 20


def encode_point(lon: float, lat: float, nchars: int) -> str:
    """Geohash of an in-range point at exactly ``nchars`` characters."""
    lon_lo, lon_hi = -180.0, 180.0
    lat_lo, lat_hi = -90.0, 90.0
    out = []
    bit_is_lon = True
    cur = 0
    nbits = 0
    while len(out) < nchars:
        if bit_is_lon:
            mid = (lon_lo + lon_hi) / 2.0
            if lon >= mid:
                cur = (cur << 1) | 1
                lon_lo = mid
            else:
                cur = cur << 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2.0
            if lat >= mid:
                cur = (cur << 1) | 1
                lat_lo = mid
            else:
                cur = cur << 1
                lat_hi = mid
        bit_is_lon = not bit_is_lon
        nbits += 1
        if nbits == 5:
            out.append(_B32[cur])
            cur = 0
            nbits = 0
    return "".join(out)


def decode_bbox(h: str) -> tuple[float, float, float, float] | None:
    """(lon_lo, lat_lo, lon_hi, lat_hi) of the cell, or None on a char
    outside the base-32 alphabet (uppercase accepted, PostGIS-style)."""
    lon_lo, lon_hi = -180.0, 180.0
    lat_lo, lat_hi = -90.0, 90.0
    bit_is_lon = True
    for c in h.lower():
        v = _B32_INDEX.get(c)
        if v is None:
            return None
        for shift in (4, 3, 2, 1, 0):
            bit = (v >> shift) & 1
            if bit_is_lon:
                mid = (lon_lo + lon_hi) / 2.0
                if bit:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2.0
                if bit:
                    lat_lo = mid
                else:
                    lat_hi = mid
            bit_is_lon = not bit_is_lon
    return (lon_lo, lat_lo, lon_hi, lat_hi)


def _bbox_in_range(wkt) -> tuple[float, float, float, float] | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None
    g = G.parse_wkt(s)
    if g is None:
        return None
    pts = G._points(g)
    if not pts or not all(
        math.isfinite(x) and math.isfinite(y) for x, y in pts
    ):
        return None
    minx, miny, maxx, maxy = G.bbox(g)
    if minx < -180.0 or maxx > 180.0 or miny < -90.0 or maxy > 90.0:
        return None  # PostGIS raises; loud NULL is the house stance
    return (minx, miny, maxx, maxy)


def geohash_wkt(wkt, maxchars) -> str | None:
    bb = _bbox_in_range(wkt)
    if bb is None:
        return None
    minx, miny, maxx, maxy = bb
    cx = (minx + maxx) / 2.0
    cy = (miny + maxy) / 2.0
    n = None
    if maxchars is not None:
        try:
            n = int(maxchars)
        except (TypeError, ValueError):
            return None
    if n is None or n <= 0:
        # PostGIS auto precision: the common prefix of both corners —
        # the longest cell that still contains the whole bbox
        sw = encode_point(minx, miny, _MAX_CHARS)
        ne = encode_point(maxx, maxy, _MAX_CHARS)
        n = 0
        while n < _MAX_CHARS and sw[n] == ne[n]:
            n += 1
        return sw[:n]
    return encode_point(cx, cy, min(n, _MAX_CHARS))


def _cell_of(h, precision) -> tuple[float, float, float, float] | None:
    if h is None:
        return None
    s = str(h).strip()
    if not s:
        return None
    if precision is not None:
        try:
            p = int(precision)
        except (TypeError, ValueError):
            return None
        if p > 0:
            s = s[:p]
    return decode_bbox(s)


def pointfromgeohash_wkt(h, precision) -> str | None:
    bb = _cell_of(h, precision)
    if bb is None:
        return None
    lon_lo, lat_lo, lon_hi, lat_hi = bb
    return G.to_wkt(
        G.Geometry("Point", ((lon_lo + lon_hi) / 2.0, (lat_lo + lat_hi) / 2.0))
    )


def geomfromgeohash_wkt(h, precision) -> str | None:
    bb = _cell_of(h, precision)
    if bb is None:
        return None
    w, s, e, n = bb
    ring = ((w, s), (e, s), (e, n), (w, n), (w, s))
    return G.to_wkt(G.Geometry("Polygon", (ring,)))


@pandas_udf(StringType())
def st_geohash(wkt: pd.Series, maxchars: pd.Series) -> pd.Series:
    out = []
    for w, n in zip(wkt, maxchars):
        try:
            out.append(geohash_wkt(w, None if n is None or pd.isna(n) else n))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_pointfromgeohash(h: pd.Series, precision: pd.Series) -> pd.Series:
    out = []
    for s, p in zip(h, precision):
        try:
            out.append(
                pointfromgeohash_wkt(s, None if p is None or pd.isna(p) else p)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_geomfromgeohash(h: pd.Series, precision: pd.Series) -> pd.Series:
    out = []
    for s, p in zip(h, precision):
        try:
            out.append(
                geomfromgeohash_wkt(s, None if p is None or pd.isna(p) else p)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def box2dfromgeohash_txt(h, precision) -> str | None:
    """PostGIS ST_Box2dFromGeoHash: the cell as BOX2D text
    ('BOX(w s, e n)' — the ST_Extent output form)."""
    bb = _cell_of(h, precision)
    if bb is None:
        return None
    w, s, e, n = bb
    return (
        f"BOX({G._fmt(w)} {G._fmt(s)}, {G._fmt(e)} {G._fmt(n)})"
    )


@pandas_udf(StringType())
def st_box2dfromgeohash(h: pd.Series, precision: pd.Series) -> pd.Series:
    out = []
    for s, p in zip(h, precision):
        try:
            out.append(
                box2dfromgeohash_txt(s, None if p is None or pd.isna(p) else p)
            )
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_GEOHASH_FUNCTIONS = {
    "st_geohash": st_geohash,
    "st_pointfromgeohash": st_pointfromgeohash,
    "st_geomfromgeohash": st_geomfromgeohash,
    "st_box2dfromgeohash": st_box2dfromgeohash,
}
