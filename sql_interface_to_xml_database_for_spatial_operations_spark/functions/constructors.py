"""Geometry constructors: ST_MakeLine / ST_MakePolygon (F12).

PostGIS constructor surface (reference src/index.ts:44-63 forwards
every PostGIS-accepted scalar). Semantics, matching PostGIS:

- ``ST_MakeLine(g1, g2)`` (the scalar 2-argument form): concatenate
  the vertex sequences of the two inputs into one LINESTRING. Each
  argument may be a POINT or a LINESTRING (PostGIS also accepts
  MULTIPOINT — supported here too: its points join in order); other
  kinds → NULL. Typed EMPTY arguments contribute no vertices (PostGIS
  ignores empty inputs) — both empty → ``LINESTRING EMPTY``, a single
  surviving vertex → NULL (one point is not a line). Consecutive
  duplicate vertices at the seam are kept, as PostGIS keeps them.
  (The AGGREGATE ST_MakeLine form corresponds to this engine's
  `st_collect`-style aggregates — see q95.)
- ``ST_MakePolygon(shell)``: build a POLYGON from a CLOSED LINESTRING
  shell (≥ 4 points, first = last). Open or too-short shells → NULL
  (PostGIS raises). The with-holes form takes an ARRAY of closed
  LINESTRING WKTs: ``st_makepolygon_holes(shell, array(...))`` —
  a separate name because Spark SQL UDFs cannot overload arity.
  Hole rings are taken as given (PostGIS does not validate
  containment either); typed-EMPTY holes are skipped (contribute no
  ring), while an EMPTY shell stays NULL — there is no boundary to
  build from.

Scale shape: map-only Arrow-vectorized pandas UDFs — O(vertices) per
row, no shuffle.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from .geometry import Geometry

_EMPTY_RE = re.compile(r"^(POINT|LINESTRING|MULTIPOINT)\s+EMPTY$")


def _vertices(wkt) -> list | None:
    """Vertex sequence of a POINT / MULTIPOINT / LINESTRING argument.
    Typed EMPTY of those kinds contributes no vertices (PostGIS
    ignores empty ST_MakeLine inputs — the affine family's composition
    rationale); other kinds/junk → None."""
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _EMPTY_RE.match(s.upper()):
        return []
    g = G.parse_wkt(s)
    if g is None:
        return None
    if g.kind == "Point":
        return [g.coords]
    if g.kind in ("LineString", "MultiPoint"):
        return list(g.coords)
    return None


def make_line(a_wkt, b_wkt) -> str | None:
    a = _vertices(a_wkt)
    b = _vertices(b_wkt)
    if a is None or b is None:
        return None
    pts = a + b
    if not pts:
        return "LINESTRING EMPTY"  # both inputs empty, PostGIS shape
    # One surviving vertex (single point + empty other side): PostGIS
    # liblwgeom builds the one-point LINESTRING — OGC-invalid but the
    # documented PostGIS shape (ADVICE r8 #4), and it round-trips
    # through this module's parser like any other LINESTRING.
    return G.to_wkt(Geometry("LineString", pts))


def _closed_ring(wkt) -> list | None:
    if wkt is None:
        return None
    g = G.parse_wkt(str(wkt).strip())
    if g is None or g.kind != "LineString":
        return None
    if len(g.coords) < 4 or g.coords[0] != g.coords[-1]:
        return None
    return list(g.coords)


def make_polygon(shell_wkt) -> str | None:
    ring = _closed_ring(shell_wkt)
    if ring is None:
        return None
    return G.to_wkt(Geometry("Polygon", [ring]))


def make_polygon_holes(shell_wkt, hole_wkts) -> str | None:
    ring = _closed_ring(shell_wkt)
    if ring is None or hole_wkts is None:
        return None
    rings = [ring]
    for h in hole_wkts:
        if h is not None and _EMPTY_RE.match(str(h).strip().upper()):
            continue  # empty hole contributes no ring
        hr = _closed_ring(h)
        if hr is None:
            return None
        rings.append(hr)
    return G.to_wkt(Geometry("Polygon", rings))


@pandas_udf(StringType())
def st_makeline(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([make_line(x, y) for x, y in zip(a, b)], dtype="object")


@pandas_udf(StringType())
def st_makepolygon(s: pd.Series) -> pd.Series:
    return pd.Series([make_polygon(x) for x in s], dtype="object")


@pandas_udf(StringType())
def st_makepolygon_holes(s: pd.Series, h: pd.Series) -> pd.Series:
    return pd.Series(
        [make_polygon_holes(x, y) for x, y in zip(s, h)], dtype="object"
    )


ALL_CONSTRUCTOR_FUNCTIONS = {
    "st_makeline": st_makeline,
    "st_makepolygon": st_makepolygon,
    "st_makepolygon_holes": st_makepolygon_holes,
}
