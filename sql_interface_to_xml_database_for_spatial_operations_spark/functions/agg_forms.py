"""Aggregate forms of the collecting constructors (r15): PostGIS's
ST_Collect / ST_MakeLine / ST_Polygonize are AGGREGATES (one geometry
per group); Spark expresses that as ``fn(collect_list(geom))`` —
the established ``st_union_all`` idiom (union_ops.py). This module
adds the three missing array-taking twins so ported GROUP BY SQL has
a one-line rewrite:

- ``st_collect_all(array<wkt>)`` — PostGIS collection promotion over
  N members: all-Point → MULTIPOINT, all-LineString →
  MULTILINESTRING, all-Polygon → MULTIPOLYGON, anything mixed (or
  any multi/collection member) → GEOMETRYCOLLECTION of the members
  verbatim. Junk / typed-EMPTY members are loud NULLs (the binary
  st_collect contract, collection_fns._operand).
- ``st_makeline_all(array<wkt>)`` — concatenates the vertices of
  POINT / MULTIPOINT / LINESTRING members in array order (the binary
  make_line kernel's rules: areal members loud, all-EMPTY →
  LINESTRING EMPTY, PostGIS's one-point LINESTRING shape kept).
- ``st_polygonize_all(array<wkt>)`` — pools every member's chains
  (lineal members; GEOMETRYCOLLECTIONs of lineal recurse) and runs
  the half-edge face walk ONCE over the union of the linework —
  PostGIS semantics, where faces can close across members. Returns
  the GEOMETRYCOLLECTION of faces; non-lineal members are loud.

Order note: ``collect_list`` is partition-order nondeterministic, so
``st_makeline_all`` callers who need a stable line must sort the
array first (``array_sort`` / ``sort_array``) or collect over an
ordered window — same caveat PostGIS documents for its aggregate.
``st_collect_all`` and ``st_polygonize_all`` are member-order
canonical: promotion ignores order only in kind, so the MULTI*/GC
echoes members in array order, and the face walk sorts its output.

All map-only Arrow-batched pandas UDFs over pre-collected arrays; the
shuffle is the caller's groupBy, exactly like st_union_all.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .collection_fns import _operand
from .constructors import _vertices
from .geometry import Geometry
from .noding import _chains_of, _frac_chain, polygonize_geoms
from .wkt import _safe

_MULTI_OF = {
    "Point": "MultiPoint",
    "LineString": "MultiLineString",
    "Polygon": "MultiPolygon",
}


def collect_all_wkt(wkts) -> str | None:
    if wkts is None:
        return None
    members = []
    for w in wkts:
        g = _operand(w)
        if g is None or g == ("bad",):
            return None  # NULL / junk / typed-EMPTY member — loud
        members.append(g)
    if not members:
        return None  # empty group: PostGIS aggregates yield NULL
    kinds = {m.kind for m in members}
    if len(kinds) == 1:
        kind = next(iter(kinds))
        if kind in _MULTI_OF:
            return G.to_wkt(
                Geometry(_MULTI_OF[kind], [m.coords for m in members])
            )
    return G.to_wkt(Geometry("GeometryCollection", members))


def make_line_all_wkt(wkts) -> str | None:
    if wkts is None:
        return None
    pts: list = []
    saw = False
    for w in wkts:
        v = _vertices(w)
        if v is None:
            return None
        saw = True
        pts.extend(v)
    if not saw:
        return None  # empty group
    if not pts:
        return "LINESTRING EMPTY"
    return G.to_wkt(Geometry("LineString", pts))


def polygonize_all_wkt(wkts) -> str | None:
    if wkts is None:
        return None
    chains: list = []
    saw = False
    for w in wkts:
        if w is None:
            return None
        s = str(w).strip()
        m = _ov._EMPTY_RE.match(s.upper())
        if m:
            if m.group(1) in ("LINESTRING", "MULTILINESTRING", "GEOMETRYCOLLECTION"):
                saw = True
                continue  # empty lineal member contributes nothing
            return None
        g = G.parse_wkt(s)
        if g is None:
            return None
        c = _chains_of(g)
        if c is None:
            return None
        saw = True
        chains.extend(c)
    if not saw:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for c in chains for x, y in c
    ):
        return None
    polys = sorted(
        polygonize_geoms([_frac_chain(c) for c in chains]), key=G.to_wkt
    )
    if not polys:
        return "GEOMETRYCOLLECTION EMPTY"
    return G.to_wkt(Geometry("GeometryCollection", polys))


def _safe_list(fn, arr):
    return _safe(lambda: fn(None if arr is None else list(arr)))


@pandas_udf(StringType())
def st_collect_all(arr: pd.Series) -> pd.Series:
    return pd.Series([_safe_list(collect_all_wkt, a) for a in arr], dtype="object")


@pandas_udf(StringType())
def st_makeline_all(arr: pd.Series) -> pd.Series:
    return pd.Series([_safe_list(make_line_all_wkt, a) for a in arr], dtype="object")


@pandas_udf(StringType())
def st_polygonize_all(arr: pd.Series) -> pd.Series:
    return pd.Series([_safe_list(polygonize_all_wkt, a) for a in arr], dtype="object")


ALL_AGG_FORM_FUNCTIONS = {
    "st_collect_all": st_collect_all,
    "st_makeline_all": st_makeline_all,
    "st_polygonize_all": st_polygonize_all,
}
