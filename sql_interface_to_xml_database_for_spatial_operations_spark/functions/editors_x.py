"""Extended PostGIS editor / constructor surface (r15, F12 remainder):
ST_ForceCollection, ST_UnaryUnion, ST_BuildArea, ST_WrapX,
ST_QuantizeCoordinates. The reference forwards these PostGIS names
verbatim (src/index.ts:44-63); each composes this engine's existing
exact kernels rather than introducing new geometry code.

Semantics (PostGIS-matching unless noted):

- ``st_forcecollection(g)`` — wrap any geometry in a
  GEOMETRYCOLLECTION; MULTI* inputs flatten into their members
  (liblwgeom ``lwgeom_as_lwcollection``), collections echo
  canonically, typed EMPTY → GEOMETRYCOLLECTION EMPTY.
- ``st_unaryunion(g)`` — dissolve the components of a SINGLE
  geometry (self-overlapping MULTIPOLYGON members, GC mixes) via the
  exact boundary-dissolve union kernel (union_ops.union_wkts, the
  same code path as ST_Union — its exact-or-NULL contract carries
  over).
- ``st_buildarea(g)`` — form areal geometry from linework (GEOS
  BuildArea): polygonize the minimal faces of the (assumed noded)
  input chains — polygon inputs contribute their rings, puntal parts
  contribute nothing — then keep faces at EVEN shell-nesting depth
  (a face inside one other shell is a hole's interior and is
  dropped, inside two is an island, …) and dissolve edge-adjacent
  survivors. No faces → loud NULL (PostGIS returns NULL).
- ``st_wrapx(g, wrap, move)`` — the dateline healer: components
  entirely on the moving side of ``x = wrap`` (x < wrap for
  move > 0, x > wrap for move < 0) translate by ``move``; components
  crossing the line are SPLIT by the vertical blade first
  (liblwgeom ``lwgeom_wrapx``) and each piece moves or stays by its
  own bbox. A component sharing a linear stretch of boundary with
  the blade is the split kernel's documented loud NULL. Single piece
  → that piece; several → MULTI* (homogeneous) or
  GEOMETRYCOLLECTION.
- ``st_quantizecoordinates(g, digits)`` — PostGIS
  ``lwgeom_trim_bits_in_place``: for each coordinate keep
  ``ceil((digits + digits-left-of-decimal) · log₂10)`` significand
  bits and zero the rest (pinned to the PostGIS doc example:
  x = 100.123456, digits = 4 → 100.12345504760742). digits < 0 →
  loud NULL (this engine rejects rather than truncating into the
  integer part); 2-D WKT only, like the core parser.

All map-only Arrow-batched pandas UDFs — no shuffle.
"""

from __future__ import annotations

import math
import struct

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry
from .noding import _chains_of, _frac_chain, polygonize_geoms
from .split import split_geoms
from .union_ops import _flatten, union_geoms, union_wkts
from .wkt import _num, _safe

# ---------------------------------------------------------------------------
# ST_ForceCollection
# ---------------------------------------------------------------------------


def forcecollection_wkt(w) -> str | None:
    if w is None:
        return None
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return "GEOMETRYCOLLECTION EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind == "GeometryCollection":
        return G.to_wkt(g)
    return G.to_wkt(Geometry("GeometryCollection", _flatten(g)))


# ---------------------------------------------------------------------------
# ST_UnaryUnion
# ---------------------------------------------------------------------------


def unaryunion_wkt(w) -> str | None:
    if w is None:
        return None
    s = str(w).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return f"{m.group(1)} EMPTY"  # nothing to dissolve — echo
    return union_wkts([s])


# ---------------------------------------------------------------------------
# ST_BuildArea
# ---------------------------------------------------------------------------


def _linework_chains(g: Geometry):
    """Every boundary chain BuildArea consumes: lineal chains plus
    polygon rings; puntal parts contribute nothing. None → a part the
    kernel cannot read."""
    chains = []
    for part in _flatten(g):
        if part.kind == "Point":
            continue
        if part.kind == "LineString":
            chains.append(list(part.coords))
        elif part.kind == "Polygon":
            chains.extend(list(r) for r in part.coords)
        else:
            return None
    return chains


def buildarea_wkt(w) -> str | None:
    if w is None:
        return None
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None  # no linework → no area (PostGIS NULL)
    g = G.parse_wkt(s)
    if g is None:
        return None
    chains = _linework_chains(g)
    if chains is None or not chains:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for c in chains for x, y in c
    ):
        return None
    faces = polygonize_geoms([_frac_chain(c) for c in chains])
    if not faces:
        return None
    # shell-nesting depth: count OTHER faces whose SHELL strictly
    # contains a representative interior point (holes ignored — the
    # classic odd-even ring nesting of GEOS BuildArea)
    from .measures import point_on_surface

    reps = []
    for f in faces:
        p = point_on_surface(f)
        if p is None:
            return None
        reps.append(p)
    kept = []
    for i, f in enumerate(faces):
        depth = 0
        for j, other in enumerate(faces):
            if i == j:
                continue
            if G._point_in_polygon(reps[i][0], reps[i][1], [other.coords[0]]):
                depth += 1
        if depth % 2 == 0:
            kept.append(f)
    if not kept:
        return None
    out = union_geoms(kept)
    return G.to_wkt(out) if out is not None else None


# ---------------------------------------------------------------------------
# ST_WrapX
# ---------------------------------------------------------------------------


def _translate_x(g: Geometry, dx: float) -> Geometry:
    def mv(p):
        return (p[0] + dx, p[1])

    if g.kind == "Point":
        return Geometry("Point", mv(g.coords))
    if g.kind in ("MultiPoint", "LineString"):
        return Geometry(g.kind, [mv(p) for p in g.coords])
    if g.kind in ("MultiLineString", "Polygon"):
        return Geometry(g.kind, [[mv(p) for p in ch] for ch in g.coords])
    if g.kind == "MultiPolygon":
        return Geometry(
            g.kind, [[[mv(p) for p in r] for r in rings] for rings in g.coords]
        )
    return Geometry(g.kind, [_translate_x(s, dx) for s in g.coords])


def _collect_parts(parts: list[Geometry]) -> Geometry:
    if len(parts) == 1:
        return parts[0]
    kinds = {p.kind for p in parts}
    if kinds == {"Point"}:
        return Geometry("MultiPoint", [p.coords for p in parts])
    if kinds == {"LineString"}:
        return Geometry("MultiLineString", [p.coords for p in parts])
    if kinds == {"Polygon"}:
        return Geometry("MultiPolygon", [p.coords for p in parts])
    return Geometry("GeometryCollection", parts)


def wrapx_wkt(w, wrap, move) -> str | None:
    wv, mv = _num(wrap), _num(move)
    if w is None or wv is None or mv is None:
        return None
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        g0 = G.parse_wkt(s)
        return G.to_wkt(g0) if g0 is not None else None
    g = G.parse_wkt(s)
    if g is None:
        return None
    if mv == 0.0:
        return G.to_wkt(g)
    out: list[Geometry] = []
    for comp in _flatten(g):
        xmin, _ymin, xmax, _ymax = G.bbox(comp)
        moving_side = (xmax <= wv) if mv > 0 else (xmin >= wv)
        static_side = (xmin >= wv) if mv > 0 else (xmax <= wv)
        if static_side:
            out.append(comp)
            continue
        if moving_side:
            out.append(_translate_x(comp, mv))
            continue
        # crosses the line: split by the vertical blade, move pieces
        # by their own bbox (liblwgeom lwgeom_wrapx)
        blade = Geometry(
            "LineString",
            [(wv, _ymin - 1.0), (wv, _ymax + 1.0)],
        )
        pieces = split_geoms(comp, blade)
        if pieces is None or not pieces:
            return None  # blade-collinear boundary — split's loud NULL
        for p in pieces:
            pxmin, _py0, pxmax, _py1 = G.bbox(p)
            if (mv > 0 and pxmax <= wv) or (mv < 0 and pxmin >= wv):
                out.append(_translate_x(p, mv))
            else:
                out.append(p)
    if not out:
        return None
    return G.to_wkt(_collect_parts(out))


# ---------------------------------------------------------------------------
# ST_QuantizeCoordinates
# ---------------------------------------------------------------------------

_BITS_AVAIL = 52  # IEEE-754 double explicit significand bits
_LOG2_10 = 3.32192809489


def _trim_bits(d: float, bits_wanted: int) -> float:
    if d == 0.0 or not math.isfinite(d):
        return d
    bits = max(0, min(_BITS_AVAIL, bits_wanted))
    if bits >= _BITS_AVAIL:
        return d
    q = struct.unpack("<q", struct.pack("<d", d))[0]
    q &= ~((1 << (_BITS_AVAIL - bits)) - 1)
    return struct.unpack("<d", struct.pack("<q", q))[0]


def quantize_value(d: float, digits: int) -> float:
    """PostGIS trim_preserve_decimal_digits: keep enough significand
    bits for ``digits`` decimals right of the point."""
    if d == 0.0 or not math.isfinite(d):
        return d
    digits_left = int(1 + math.log10(abs(d)))  # C truncation toward 0
    sig_digits = digits + digits_left
    return _trim_bits(d, math.ceil(sig_digits * _LOG2_10))


def quantize_wkt(w, digits) -> str | None:
    dv = _num(digits)
    if w is None or dv is None or dv != int(dv) or int(dv) < 0:
        return None
    nd = int(dv)
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        g0 = G.parse_wkt(s)
        return G.to_wkt(g0) if g0 is not None else None
    g = G.parse_wkt(s)
    if g is None:
        return None

    def q(p):
        return (quantize_value(p[0], nd), quantize_value(p[1], nd))

    def walk(gg: Geometry) -> Geometry:
        if gg.kind == "Point":
            return Geometry("Point", q(gg.coords))
        if gg.kind in ("MultiPoint", "LineString"):
            return Geometry(gg.kind, [q(p) for p in gg.coords])
        if gg.kind in ("MultiLineString", "Polygon"):
            return Geometry(gg.kind, [[q(p) for p in ch] for ch in gg.coords])
        if gg.kind == "MultiPolygon":
            return Geometry(
                gg.kind,
                [[[q(p) for p in r] for r in rings] for rings in gg.coords],
            )
        return Geometry(gg.kind, [walk(s2) for s2 in gg.coords])

    return G.to_wkt(walk(g))


# ---------------------------------------------------------------------------
# pandas UDFs + registration
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def st_forcecollection(w: pd.Series) -> pd.Series:
    return pd.Series([_safe(forcecollection_wkt, x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_unaryunion(w: pd.Series) -> pd.Series:
    return pd.Series([_safe(unaryunion_wkt, x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_buildarea(w: pd.Series) -> pd.Series:
    return pd.Series([_safe(buildarea_wkt, x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_wrapx(w: pd.Series, wrap: pd.Series, move: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(wrapx_wkt, x, a, b) for x, a, b in zip(w, wrap, move)],
        dtype="object",
    )


@pandas_udf(StringType())
def st_quantizecoordinates(w: pd.Series, digits: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(quantize_wkt, x, d) for x, d in zip(w, digits)], dtype="object"
    )


ALL_EDITORS_X_FUNCTIONS = {
    "st_forcecollection": st_forcecollection,
    "st_unaryunion": st_unaryunion,
    "st_buildarea": st_buildarea,
    "st_wrapx": st_wrapx,
    "st_quantizecoordinates": st_quantizecoordinates,
}
