"""EWKT (PostGIS extended WKT: ``SRID=n;<wkt>``) plus the dimensional
point constructors — the text-form siblings of functions/wkb.py's EWKB
surface. The reference forwards these PostGIS names verbatim
(src/index.ts:44-63).

SRID model (same stance as st_srid / st_asewkb): the engine's geometry
columns are plain WKT fixed at SRID 4326 (the reference's data, F6), so
the SRID-CARRYING text form is EWKT, exactly as the SRID-carrying byte
form is EWKB:

- ``st_geomfromewkt(t)`` — strips and validates an optional
  ``SRID=n;`` prefix (case-insensitive, spaces tolerated around ``=``
  like PostGIS's parser), canonicalizes the remainder through the full
  codec stack (2-D / Z / M / ZM / POLYHEDRALSURFACE / TIN / TRIANGLE —
  the exact st_asewkb acceptance surface; curved types stay outside the
  binary/extended codecs, documented loud NULL). The SRID itself is
  read, bounds-checked (0 .. 998999, PostGIS's spatial_ref_sys
  ceiling) and DISCARDED into the fixed-4326 model — the parallel of
  st_geomfromewkb; use st_sridfromewkt to extract it.
- ``st_sridfromewkt(t)`` — the prefix SRID; a valid PLAIN WKT reads
  4326 (st_srid parity: the engine's plain text IS 4326 by data
  model — this is the one deliberate divergence from PostGIS's
  0-when-unset, mirrored by st_asewkt below); junk → NULL.
- ``st_asewkt(t)`` — canonical EWKT echo: keeps an existing prefix
  (including an explicit ``SRID=0;``), else stamps the engine's 4326.
  PostGIS omits the prefix at srid 0; the engine keeps it explicit
  because plain text already means 4326 here — dropping the 0 would
  silently re-label the geometry. Round-trip law:
  st_asewkt(st_setsrid(g, n)) carries n for every n ≥ 0.
- ``st_setsrid(t, srid)`` — returns the EWKT text with the prefix set
  (replacing any existing one); body canonicalized. NULL / negative /
  out-of-range srid → NULL.

Point constructors (UDF registration is fixed-arity, so each PostGIS
shape gets its ISO name rather than a variadic ST_MakePoint):

- ``st_makepoint(x, y)`` — the 2-argument PostGIS shape (exactly
  st_point's kernel under the PostGIS constructor name).
- ``st_pointz(x, y, z)`` / ``st_pointm(x, y, m)`` /
  ``st_pointzm(x, y, z, m)`` — PostGIS 3.2's fixed-arity constructors
  (their optional srid argument is not taken: the engine's SRID
  carrier is st_setsrid's text form).
- ``st_makepointm(x, y, m)`` — PostGIS's legacy M-point name, the same
  kernel as st_pointm.

NULL or non-finite coordinates → NULL (the registry-wide null-safety
convention; PostGIS would happily build a NaN point, but every engine
kernel downstream treats non-finite WKT as junk, so constructing one
would just defer the NULL).

Scale shape: all map-only Arrow-batched pandas UDFs — per-row string
work, no shuffle, no state.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType

from . import geometry as G
from . import surface3d as _s3
from . import wkb as _wkb
from . import wkt as W
from .wkt import _safe

_SRID_RE = re.compile(r"^\s*SRID\s*=\s*(-?\d+)\s*;", re.IGNORECASE)

_MAX_SRID = _wkb._MAX_SRID  # one source of truth with the EWKB side


def split_ewkt(text) -> tuple[int | None, str] | None:
    """(srid, rest) — srid None when no prefix; None for an out-of-
    bounds or negative prefix (loud, never silently clamped)."""
    if text is None:
        return None
    s = str(text)
    m = _SRID_RE.match(s)
    if not m:
        return (None, s.strip())
    srid = int(m.group(1))
    if not 0 <= srid <= _MAX_SRID:
        return None
    return (srid, s[m.end() :].strip())


def canonical_any_wkt(s: str) -> str | None:
    """Canonical echo across the st_asewkb acceptance surface:
    2-D / Z / M / ZM / surface WKT (typed EMPTY included)."""
    ps = _s3.parse_surface_wkt(s)
    if ps is not None:
        kind, has_z, patches = ps
        return _s3.to_surface_wkt(kind, has_z, patches)
    parsed = _wkb._parse_any(s)
    if parsed is None:
        return None
    kind, z, m, payload = parsed
    if m and not z and kind in ("Polygon", "MultiPolygon", "GeometryCollection"):
        return None  # outside the measure codec's kinds (wkb.py gate)
    if (kind == "Point" and payload == ()) or (kind != "Point" and not payload):
        # typed EMPTY straight from _parse_any (wkb's _dims_to_wkt only
        # ever sees DECODED payloads, where an empty point is NaN-coded)
        tag = (" ZM" if m else " Z") if z else (" M" if m else "")
        return f"{kind.upper()}{tag} EMPTY"
    if z or m:
        if not _wkb._finite_payload(kind, payload):
            return None  # text reader: non-finite is junk, never
            # the WKB decoder's NaN-empty convention
    else:
        g = G.Geometry(kind, payload)
        if not all(
            math.isfinite(v) for p in G._points(g) for v in p
        ):
            return None
    return _wkb._dims_to_wkt(kind, z, m, payload)


def geomfromewkt(text) -> str | None:
    split = split_ewkt(text)
    if split is None:
        return None
    _, rest = split
    return canonical_any_wkt(rest)


def sridfromewkt(text) -> int | None:
    split = split_ewkt(text)
    if split is None:
        return None
    srid, rest = split
    if canonical_any_wkt(rest) is None:
        return None
    return 4326 if srid is None else srid


def asewkt(text) -> str | None:
    split = split_ewkt(text)
    if split is None:
        return None
    srid, rest = split
    canon = canonical_any_wkt(rest)
    if canon is None:
        return None
    return f"SRID={4326 if srid is None else srid};{canon}"


def setsrid(text, srid) -> str | None:
    if srid is None:
        return None
    try:
        sv = int(srid)
    except (TypeError, ValueError):
        return None
    if isinstance(srid, float) and (math.isnan(srid) or srid != sv):
        return None
    if not 0 <= sv <= _MAX_SRID:
        return None
    split = split_ewkt(text)
    if split is None:
        return None
    canon = canonical_any_wkt(split[1])
    if canon is None:
        return None
    return f"SRID={sv};{canon}"


def _coords(*vals) -> tuple | None:
    out = []
    for v in vals:
        if v is None:
            return None
        try:
            f = float(v)
        except (TypeError, ValueError):
            return None
        if not math.isfinite(f):
            return None
        out.append(f)
    return tuple(out)


def make_point(x, y) -> str | None:
    c = _coords(x, y)
    return None if c is None else G.to_wkt(G.Geometry.point(*c))


def point_z(x, y, z) -> str | None:
    c = _coords(x, y, z)
    return None if c is None else W.write("Point", "Z", c)


def point_m(x, y, m) -> str | None:
    c = _coords(x, y, m)
    return None if c is None else W.write("Point", "M", c)


def point_zm(x, y, z, m) -> str | None:
    c = _coords(x, y, z, m)
    return None if c is None else W.write("Point", "ZM", c)


@pandas_udf(StringType())
def st_geomfromewkt(t: pd.Series) -> pd.Series:
    return pd.Series([_safe(geomfromewkt, v) for v in t], dtype="object")


@pandas_udf(IntegerType())
def st_sridfromewkt(t: pd.Series) -> pd.Series:
    return pd.Series([_safe(sridfromewkt, v) for v in t], dtype="object")


@pandas_udf(StringType())
def st_asewkt(t: pd.Series) -> pd.Series:
    return pd.Series([_safe(asewkt, v) for v in t], dtype="object")


@pandas_udf(StringType())
def st_setsrid(t: pd.Series, srid: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(setsrid, v, s) for v, s in zip(t, srid)], dtype="object"
    )


@pandas_udf(StringType())
def st_makepoint(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(make_point, a, b) for a, b in zip(x, y)], dtype="object"
    )


@pandas_udf(StringType())
def st_pointz(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(point_z, a, b, c) for a, b, c in zip(x, y, z)], dtype="object"
    )


@pandas_udf(StringType())
def st_pointm(x: pd.Series, y: pd.Series, m: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(point_m, a, b, c) for a, b, c in zip(x, y, m)], dtype="object"
    )


@pandas_udf(StringType())
def st_pointzm(
    x: pd.Series, y: pd.Series, z: pd.Series, m: pd.Series
) -> pd.Series:
    return pd.Series(
        [_safe(point_zm, a, b, c, d) for a, b, c, d in zip(x, y, z, m)],
        dtype="object",
    )


ALL_EWKT_FUNCTIONS = {
    "st_geomfromewkt": st_geomfromewkt,
    "st_sridfromewkt": st_sridfromewkt,
    "st_asewkt": st_asewkt,
    "st_setsrid": st_setsrid,
    "st_makepoint": st_makepoint,
    "st_pointz": st_pointz,
    "st_pointm": st_pointm,
    "st_pointzm": st_pointzm,
    # PostGIS's legacy M-point name — the same kernel
    "st_makepointm": st_pointm,
}
