"""Geometry element accessors + closure predicates + ST_Boundary (F12).

PostGIS users reach all of these through the reference's forwarding
surface (reference src/index.ts:44-63 — "whatever PostGIS accepts").
Semantics follow PostGIS/GEOS:

- ``ST_NumGeometries``: part count of a multi/collection, 1 for a
  single non-empty geometry, 0 for EMPTY.
- ``ST_GeometryN(g, n)``: 1-based part; a single geometry is its own
  part 1 (PostGIS 2.0 behavior); out of range → NULL.
- ``ST_NumPoints`` / ``ST_PointN(g, n)``: LINESTRING-only (NULL for
  every other type, as PostGIS; LINESTRING EMPTY → 0); PointN
  supports negative indexes counting from the end (PostGIS 2.0+).
- ``ST_StartPoint`` / ``ST_EndPoint``: LINESTRING-only → first/last
  vertex as POINT, NULL otherwise.
- ``ST_ExteriorRing`` / ``ST_NumInteriorRings`` /
  ``ST_InteriorRingN(g, n)``: POLYGON-only (POLYGON EMPTY → 0
  interior rings); rings come back as closed LINESTRINGs.
- ``ST_IsEmpty``: true for any typed EMPTY, false for non-empty,
  NULL on unparseable input.
- ``ST_IsClosed``: LineString endpoint coincidence; MultiLineString =
  all parts closed; Point/MultiPoint → true and (Multi)Polygon → true
  (their boundaries are rings), PostGIS behavior; typed EMPTY → false
  (the JTS convention PostGIS's lwgeom follows for empty curves).
- ``ST_IsRing``: LINESTRING-only — closed AND simple (no
  self-intersection; reuses the overlay's exact ``_is_simple_ring``).
- ``ST_Boundary`` (SQL/MM mod-2 rule, matching GEOS output shapes):
  (Multi)Point → GEOMETRYCOLLECTION EMPTY; open LineString →
  MULTIPOINT of its two endpoints, closed → MULTIPOINT EMPTY;
  MultiLineString → MULTIPOINT of the endpoints occurring an odd
  number of times (mod-2), possibly EMPTY; Polygon → its ring(s) as
  LINESTRING (single ring) or MULTILINESTRING; MultiPolygon → always
  MULTILINESTRING of every ring. GeometryCollection → NULL (loud
  unsupported, the module's no-silent-wrong-geometry contract).

Scale shape: every function is a map-only Arrow-vectorized pandas UDF
— O(vertices) per row, no shuffle, no state. Structure-only walks (no
coordinate arithmetic), so results are exact for any input the WKT
parser accepts.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, IntegerType, StringType

from . import geometry as G
from .geometry import Geometry
from .wkt import _EMPTY_RE



def _int_arg(n) -> int | None:
    """NULL-safe integer argument: Arrow delivers a SQL NULL int to a
    pandas UDF as float NaN (the affine family hit the same class in
    r8 — verify SKILL.md gotcha), so ``is None`` alone misses it."""
    if n is None or (isinstance(n, float) and math.isnan(n)):
        return None
    return int(n)


def _parse(wkt) -> tuple[Geometry | None, str | None]:
    """(geometry, empty_kind): empty_kind is the typed-EMPTY head when the
    input is an EMPTY literal (parse_wkt itself rejects EMPTY)."""
    if wkt is None:
        return None, None
    s = str(wkt).strip()
    m = _EMPTY_RE.match(s.upper())
    if m:
        return None, m.group(1)
    return G.parse_wkt(s), None


def _parts(g: Geometry) -> list[Geometry]:
    if g.kind == "GeometryCollection":
        return list(g.coords)
    if g.kind == "MultiPoint":
        return [Geometry("Point", p) for p in g.coords]
    if g.kind == "MultiLineString":
        return [Geometry("LineString", seq) for seq in g.coords]
    if g.kind == "MultiPolygon":
        return [Geometry("Polygon", rings) for rings in g.coords]
    return [g]


def num_geometries(wkt) -> int | None:
    g, empty = _parse(wkt)
    if empty is not None:
        return 0
    if g is None:
        return None
    return len(_parts(g))


def geometry_n(wkt, n) -> str | None:
    g, _empty = _parse(wkt)
    i = _int_arg(n)
    if g is None or i is None:
        return None
    parts = _parts(g)
    if i < 1 or i > len(parts):
        return None
    return G.to_wkt(parts[i - 1])


def num_points(wkt) -> int | None:
    g, empty = _parse(wkt)
    if empty == "LINESTRING":
        return 0  # PostGIS: 0 for LINESTRING EMPTY, NULL for other kinds
    if g is None or g.kind != "LineString":
        return None
    return len(g.coords)


def point_n(wkt, n) -> str | None:
    g, _empty = _parse(wkt)
    i = _int_arg(n)
    if g is None or g.kind != "LineString" or i is None:
        return None
    if i == 0 or abs(i) > len(g.coords):
        return None
    p = g.coords[i - 1] if i > 0 else g.coords[i]
    return G.to_wkt(Geometry("Point", p))


def start_point(wkt) -> str | None:
    g, _empty = _parse(wkt)
    if g is None or g.kind != "LineString" or not g.coords:
        return None
    return G.to_wkt(Geometry("Point", g.coords[0]))


def end_point(wkt) -> str | None:
    g, _empty = _parse(wkt)
    if g is None or g.kind != "LineString" or not g.coords:
        return None
    return G.to_wkt(Geometry("Point", g.coords[-1]))


def exterior_ring(wkt) -> str | None:
    g, _empty = _parse(wkt)
    if g is None or g.kind != "Polygon" or not g.coords:
        return None
    return G.to_wkt(Geometry("LineString", g.coords[0]))


def num_interior_rings(wkt) -> int | None:
    g, empty = _parse(wkt)
    if empty == "POLYGON":
        return 0  # PostGIS: 0 for POLYGON EMPTY, NULL for other kinds
    if g is None or g.kind != "Polygon":
        return None
    return len(g.coords) - 1


def interior_ring_n(wkt, n) -> str | None:
    g, _empty = _parse(wkt)
    i = _int_arg(n)
    if g is None or g.kind != "Polygon" or i is None:
        return None
    if i < 1 or i > len(g.coords) - 1:
        return None
    return G.to_wkt(Geometry("LineString", g.coords[i]))


def is_empty(wkt) -> bool | None:
    g, empty = _parse(wkt)
    if empty is not None:
        return True
    if g is None:
        return None
    return False


def _closed(seq) -> bool:
    return len(seq) >= 2 and seq[0] == seq[-1]


def is_closed(wkt) -> bool | None:
    # surface overload (code-review r15: registration is last-wins, so
    # the surface-aware behavior must live in THIS single owner rather
    # than depend on module registration order): POLYHEDRALSURFACE /
    # TIN / TRIANGLE WKT goes to the mesh edge-count kernel; the lazy
    # parse attempt is a no-op for every other input
    if wkt is not None:
        from . import surface3d as _s3

        ps = _s3.parse_surface_wkt(wkt)
        if ps is not None:
            if not ps[2]:
                return None
            return _s3.surface_is_closed(ps[2], "Z" in ps[1])
    g, empty = _parse(wkt)
    if empty is not None:
        return False
    if g is None:
        return None
    if g.kind in ("Point", "MultiPoint", "Polygon", "MultiPolygon"):
        return True
    if g.kind == "LineString":
        return _closed(g.coords)
    if g.kind == "MultiLineString":
        return all(_closed(seq) for seq in g.coords)
    return None  # GeometryCollection: PostGIS errors; we go loud-NULL


def is_ring(wkt) -> bool | None:
    g, _empty = _parse(wkt)
    if g is None or g.kind != "LineString":
        return None
    if not _closed(g.coords):
        return False
    if len(g.coords) < 4:
        # out-and-back (A,B,A) or point-loop (A,A): closed but the line
        # retraces its own segment — non-simple in JTS/PostGIS.
        # _is_simple_ring can't see this (both edge pairs of a 2-edge
        # ring count as adjacent), so gate on vertex count first.
        return False
    from . import overlay as _ov  # lazy: overlay imports geometry too
    from .union_ops import _signed_area_ring

    if _signed_area_ring(g.coords) == 0:
        # all-collinear closed walk (e.g. 0 0,1 0,2 0,0 0): every edge
        # pair is adjacency-exempt in _is_simple_ring, but a simple
        # ring encloses area — zero area means it retraces itself.
        return False
    return bool(_ov._is_simple_ring(g.coords))


def boundary_wkt(wkt) -> str | None:
    g, empty = _parse(wkt)
    if empty is not None:
        if empty in ("POINT", "MULTIPOINT", "GEOMETRYCOLLECTION"):
            return "GEOMETRYCOLLECTION EMPTY"
        if empty in ("LINESTRING", "MULTILINESTRING"):
            return "MULTIPOINT EMPTY"
        return "MULTILINESTRING EMPTY"
    if g is None:
        return None
    if g.kind in ("Point", "MultiPoint"):
        return "GEOMETRYCOLLECTION EMPTY"
    if g.kind in ("LineString", "MultiLineString"):
        seqs = [g.coords] if g.kind == "LineString" else g.coords
        ends: Counter = Counter()
        for seq in seqs:
            if not _closed(seq):
                ends[seq[0]] += 1
                ends[seq[-1]] += 1
        odd = [p for p, c in ends.items() if c % 2 == 1]
        if not odd:
            return "MULTIPOINT EMPTY"
        return G.to_wkt(Geometry("MultiPoint", odd))
    if g.kind == "Polygon":
        if len(g.coords) == 1:
            return G.to_wkt(Geometry("LineString", g.coords[0]))
        return G.to_wkt(Geometry("MultiLineString", list(g.coords)))
    if g.kind == "MultiPolygon":
        rings = [r for poly in g.coords for r in poly]
        return G.to_wkt(Geometry("MultiLineString", rings))
    return None  # GeometryCollection: GEOS throws; loud-NULL here


@pandas_udf(IntegerType())
def st_numgeometries(w: pd.Series) -> pd.Series:
    return pd.Series([num_geometries(x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_geometryn(w: pd.Series, n: pd.Series) -> pd.Series:
    return pd.Series([geometry_n(x, i) for x, i in zip(w, n)], dtype="object")


@pandas_udf(IntegerType())
def st_numpoints(w: pd.Series) -> pd.Series:
    return pd.Series([num_points(x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_pointn(w: pd.Series, n: pd.Series) -> pd.Series:
    return pd.Series([point_n(x, i) for x, i in zip(w, n)], dtype="object")


@pandas_udf(StringType())
def st_startpoint(w: pd.Series) -> pd.Series:
    return pd.Series([start_point(x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_endpoint(w: pd.Series) -> pd.Series:
    return pd.Series([end_point(x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_exteriorring(w: pd.Series) -> pd.Series:
    return pd.Series([exterior_ring(x) for x in w], dtype="object")


@pandas_udf(IntegerType())
def st_numinteriorrings(w: pd.Series) -> pd.Series:
    return pd.Series([num_interior_rings(x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_interiorringn(w: pd.Series, n: pd.Series) -> pd.Series:
    return pd.Series([interior_ring_n(x, i) for x, i in zip(w, n)], dtype="object")


@pandas_udf(BooleanType())
def st_isempty(w: pd.Series) -> pd.Series:
    return pd.Series([is_empty(x) for x in w], dtype="object")


@pandas_udf(BooleanType())
def st_isclosed(w: pd.Series) -> pd.Series:
    return pd.Series([is_closed(x) for x in w], dtype="object")


@pandas_udf(BooleanType())
def st_isring(w: pd.Series) -> pd.Series:
    return pd.Series([is_ring(x) for x in w], dtype="object")


@pandas_udf(StringType())
def st_boundary(w: pd.Series) -> pd.Series:
    return pd.Series([boundary_wkt(x) for x in w], dtype="object")


ALL_ACCESSOR_FUNCTIONS = {
    "st_numgeometries": st_numgeometries,
    "st_geometryn": st_geometryn,
    "st_numpoints": st_numpoints,
    "st_pointn": st_pointn,
    "st_startpoint": st_startpoint,
    "st_endpoint": st_endpoint,
    "st_exteriorring": st_exteriorring,
    "st_numinteriorrings": st_numinteriorrings,
    "st_interiorringn": st_interiorringn,
    "st_isempty": st_isempty,
    "st_isclosed": st_isclosed,
    "st_isring": st_isring,
    "st_boundary": st_boundary,
}
