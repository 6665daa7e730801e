"""Collection constructors and decomposition: ST_Collect (scalar
two-geometry form), ST_Multi, and ST_Dump exposed Spark-style as
``st_dumpparts`` returning ``array<string>`` (PostGIS's set-returning
ST_Dump maps to ``explode(st_dumpparts(g))`` — the standard Spark
shape for table functions; reference F12, src/index.ts:44-63).

Semantics (PostGIS):

- ``st_collect(a, b)``: NULL operands are ignored (one NULL → the
  other echoed); two Points → MULTIPOINT, two LineStrings →
  MULTILINESTRING, two Polygons → MULTIPOLYGON; anything mixed, or
  any Multi*/GeometryCollection operand → GEOMETRYCOLLECTION wrapping
  the operands verbatim (ST_Collect does NOT flatten multis).
  Unparseable WKT → NULL (never a silent echo of the other side), and
  typed-EMPTY operands are a documented loud NULL: PostGIS keeps
  empties inside the result (``MULTIPOINT (EMPTY, 3 4)``), which this
  engine's WKT model cannot represent — NULL beats silently dropping
  the empty member.
- ``st_multi(g)``: promote a singleton to its Multi* kind; Multi*/
  collections pass through; typed EMPTY promotes its kind
  (POINT EMPTY → MULTIPOINT EMPTY).
- ``st_dumpparts(g)``: the ATOMIC parts, recursing through Multi*
  and nested GeometryCollections like ST_Dump; a singleton dumps
  itself; a top-level EMPTY dumps nothing (ST_Dump returns no rows).
  Collections CONTAINING typed-EMPTY members are outside the WKT
  model (same representability limit as st_collect) → loud NULL.

Scale shape: map-only Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry
from .union_ops import _flatten

_MULTI_OF = {"Point": "MultiPoint", "LineString": "MultiLineString", "Polygon": "MultiPolygon"}
_EMPTY_MULTI = {
    "POINT": "MULTIPOINT EMPTY",
    "LINESTRING": "MULTILINESTRING EMPTY",
    "POLYGON": "MULTIPOLYGON EMPTY",
}


def collect_two(ga: Geometry, gb: Geometry) -> Geometry:
    ka, kb = ga.kind, gb.kind
    if ka == kb and ka in _MULTI_OF:
        return Geometry(_MULTI_OF[ka], [ga.coords, gb.coords])
    return Geometry("GeometryCollection", [ga, gb])


def _operand(w):
    """None for SQL NULL; ('bad',) for junk or typed EMPTY (module
    docstring: both are loud NULLs, never a silent echo); else the
    parsed Geometry."""
    if w is None:
        return None
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return ("bad",)
    g = G.parse_wkt(s)
    return ("bad",) if g is None else g


def collect_wkt(wa, wb) -> str | None:
    ga, gb = _operand(wa), _operand(wb)
    if ga == ("bad",) or gb == ("bad",):
        return None
    if ga is None and gb is None:
        return None
    if ga is None:
        return G.to_wkt(gb)
    if gb is None:
        return G.to_wkt(ga)
    return G.to_wkt(collect_two(ga, gb))


def multi_wkt(w) -> str | None:
    if w is None:
        return None
    s = str(w).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return _EMPTY_MULTI.get(m.group(1), f"{m.group(1)} EMPTY")
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind in _MULTI_OF:
        return G.to_wkt(Geometry(_MULTI_OF[g.kind], [g.coords]))
    return G.to_wkt(g)


def dumpparts_wkt(w) -> list[str] | None:
    if w is None:
        return None
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return []  # ST_Dump of an empty geometry returns no rows
    g = G.parse_wkt(s)
    if g is None:
        return None
    return [G.to_wkt(p) for p in _flatten(g)]


# ---------------------------------------------------------------------------
# collection shape tools (r13): ST_CollectionExtract /
# ST_CollectionHomogenize / ST_Points / ST_BoundingDiagonal
# ---------------------------------------------------------------------------

_TYPE_KIND = {1: "Point", 2: "LineString", 3: "Polygon"}


def collectionextract_wkt(w, typ) -> str | None:
    """PostGIS 3.x ST_CollectionExtract(g, type): a GEOMETRYCOLLECTION
    yields the MULTI* of the requested dimension's members (recursively
    flattened); atomic and Multi* NON-collection inputs pass through
    UNCHANGED when their type matches (PostGIS does not re-wrap them)
    and yield the typed EMPTY multi when it doesn't; no matching member
    → the typed EMPTY multi. type ∉ {1,2,3} → loud NULL."""
    if w is None or typ is None:
        return None
    try:
        t = int(typ)
    except (TypeError, ValueError):
        return None
    if t not in _TYPE_KIND:
        return None
    kind = _TYPE_KIND[t]
    empty = _EMPTY_MULTI[
        {"Point": "POINT", "LineString": "LINESTRING", "Polygon": "POLYGON"}[kind]
    ]
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return empty
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind != "GeometryCollection":
        matches = g.kind == kind or g.kind == _MULTI_OF[kind]
        return G.to_wkt(g) if matches else empty
    members = [p.coords for p in _flatten(g) if p.kind == kind]
    if not members:
        return empty
    return G.to_wkt(Geometry(_MULTI_OF[kind], members))


# PostGIS lwhomogenize.c emits mixed-kind buckets in TYPE-NUMBER order
# (POINTTYPE=1 < LINETYPE=2 < POLYGONTYPE=3), not input order.
_HOMOGENIZE_ORDER = {"Point": 0, "LineString": 1, "Polygon": 2}


def collectionhomogenize_wkt(w) -> str | None:
    """PostGIS ST_CollectionHomogenize (lwhomogenize.c semantics, r14):
    flattened members bucket BY KIND — a single member of a kind stays
    bare, several become the MULTI* — and mixed kinds come back as a
    GEOMETRYCOLLECTION of those buckets in type-number order
    (points, then lines, then polygons), so
    GC(POINT a, LINESTRING l, MULTIPOINT (b, c)) homogenizes to
    GC(MULTIPOINT (a, b, c), LINESTRING l). A single bucket with a
    single member comes back bare; one kind with several members is
    the plain MULTI*. A typed EMPTY echoes as its canonical
    '<TYPE> EMPTY' (ADVICE r13: the sibling shape tools echo empties;
    PostGIS may instead collapse a MULTI* EMPTY to its base-type EMPTY
    — documented divergence, kind preserved here)."""
    if w is None:
        return None
    s = str(w).strip()
    m = _ov._EMPTY_RE.match(s.upper())
    if m:
        return f"{m.group(1)} EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    parts = _flatten(g)
    if not parts:
        return None
    if len(parts) == 1:
        return G.to_wkt(parts[0])
    buckets: dict[str, list[Geometry]] = {}
    for p in parts:
        buckets.setdefault(p.kind, []).append(p)
    merged = [
        ms[0]
        if len(ms) == 1
        else Geometry(_MULTI_OF[kind], [p.coords for p in ms])
        for kind, ms in sorted(
            buckets.items(), key=lambda kv: _HOMOGENIZE_ORDER.get(kv[0], 3)
        )
    ]
    if len(merged) == 1:
        return G.to_wkt(merged[0])
    return G.to_wkt(Geometry("GeometryCollection", merged))


def points_wkt(w) -> str | None:
    """PostGIS ST_Points: every vertex as a MULTIPOINT, duplicates
    (ring closures included) preserved in serialized order."""
    if w is None:
        return None
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return "MULTIPOINT EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    pts = G._points(g)
    return G.to_wkt(Geometry("MultiPoint", pts)) if pts else None


def boundingdiagonal_wkt(w) -> str | None:
    """PostGIS ST_BoundingDiagonal: the LINESTRING from the envelope's
    min corner to its max corner (degenerate for points — PostGIS
    emits the zero-length diagonal)."""
    if w is None:
        return None
    s = str(w).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return "LINESTRING EMPTY"
    g = G.parse_wkt(s)
    if g is None:
        return None
    pts = G._points(g)
    if not pts or not all(
        math.isfinite(x) and math.isfinite(y) for x, y in pts
    ):
        return None
    minx = min(p[0] for p in pts)
    miny = min(p[1] for p in pts)
    maxx = max(p[0] for p in pts)
    maxy = max(p[1] for p in pts)
    return G.to_wkt(Geometry("LineString", [(minx, miny), (maxx, maxy)]))


@pandas_udf(StringType())
def st_collectionextract(wkt: pd.Series, typ: pd.Series) -> pd.Series:
    out = []
    for w, t in zip(wkt, typ):
        try:
            if t is None or (isinstance(t, float) and pd.isna(t)):
                out.append(None)
            else:
                out.append(collectionextract_wkt(w, int(t)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


def _unary_wkt_udf(kernel):
    def run(wkt: pd.Series) -> pd.Series:
        out = []
        for w in wkt:
            try:
                out.append(kernel(w))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return run


st_collectionhomogenize = pandas_udf(
    _unary_wkt_udf(collectionhomogenize_wkt), StringType()
)
st_points = pandas_udf(_unary_wkt_udf(points_wkt), StringType())
st_boundingdiagonal = pandas_udf(
    _unary_wkt_udf(boundingdiagonal_wkt), StringType()
)


@pandas_udf(StringType())
def st_collect(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for wa, wb in zip(a, b):
        try:
            out.append(collect_wkt(wa, wb))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_multi(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(multi_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(ArrayType(StringType()))
def st_dumpparts(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(dumpparts_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_COLLECTION_FUNCTIONS = {
    "st_collect": st_collect,
    "st_multi": st_multi,
    "st_dumpparts": st_dumpparts,
    "st_collectionextract": st_collectionextract,
    "st_collectionhomogenize": st_collectionhomogenize,
    "st_points": st_points,
    "st_boundingdiagonal": st_boundingdiagonal,
}
