"""GML / KML writers: ST_AsGML and ST_AsKML (F12 remainder, r14
continuation — the reference forwards both names to PostGIS verbatim,
src/index.ts:44-63, and its own sinks emit GML documents the same way
the ingest path reads them, extension/xml_extension.ts:283-369).

Output shapes (the PostGIS default-version forms, coordinates at the
engine's repr precision):

- ``st_asgml(wkt)`` — GML 2 with the ``gml:`` prefix:
  ``<gml:Point><gml:coordinates>x,y</gml:coordinates></gml:Point>``;
  polygons use outerBoundaryIs/innerBoundaryIs LinearRings; multis
  wrap members in ``<gml:pointMember>`` etc.; mixed collections in
  ``<gml:MultiGeometry><gml:geometryMember>``. No srsName attribute —
  this engine's WKT carries no SRID (PostGIS omits it at SRID 0 too).
- ``st_askml(wkt)`` — KML 2.2 (unprefixed):
  ``<Point><coordinates>x,y</coordinates></Point>``; multis become
  ``<MultiGeometry>``. KML has no GeometryCollection distinct from
  MultiGeometry, so mixed collections flatten into one MultiGeometry
  (PostGIS behavior).

Both compose with the existing readers: st_geomfromgml(st_asgml(g))
and st_geomfromkml(st_askml(g)) echo the WKT byte-for-byte (the q99 /
q108 roundtrip rows pin the readers; q169's export families pin the
writers). Typed-EMPTY input → loud NULL (GML 2 / KML cannot spell an
empty geometry). Map-only Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry


def _coords(seq) -> str:
    return " ".join(f"{G._fmt(x)},{G._fmt(y)}" for x, y in seq)


def _gml(g: Geometry) -> str:
    if g.kind == "Point":
        return (
            "<gml:Point><gml:coordinates>"
            + _coords([g.coords])
            + "</gml:coordinates></gml:Point>"
        )
    if g.kind == "LineString":
        return (
            "<gml:LineString><gml:coordinates>"
            + _coords(g.coords)
            + "</gml:coordinates></gml:LineString>"
        )
    if g.kind == "Polygon":
        shell, *holes = g.coords
        out = [
            "<gml:Polygon><gml:outerBoundaryIs><gml:LinearRing>"
            "<gml:coordinates>" + _coords(shell)
            + "</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>"
        ]
        for h in holes:
            out.append(
                "<gml:innerBoundaryIs><gml:LinearRing><gml:coordinates>"
                + _coords(h)
                + "</gml:coordinates></gml:LinearRing></gml:innerBoundaryIs>"
            )
        out.append("</gml:Polygon>")
        return "".join(out)
    members = {
        "MultiPoint": ("gml:MultiPoint", "gml:pointMember", "Point"),
        "MultiLineString": (
            "gml:MultiLineString", "gml:lineStringMember", "LineString"
        ),
        "MultiPolygon": ("gml:MultiPolygon", "gml:polygonMember", "Polygon"),
    }
    if g.kind in members:
        tag, member, sub = members[g.kind]
        body = "".join(
            f"<{member}>" + _gml(Geometry(sub, c)) + f"</{member}>"
            for c in g.coords
        )
        return f"<{tag}>{body}</{tag}>"
    # GeometryCollection
    body = "".join(
        "<gml:geometryMember>" + _gml(s) + "</gml:geometryMember>"
        for s in g.coords
    )
    return f"<gml:MultiGeometry>{body}</gml:MultiGeometry>"


def _kml(g: Geometry) -> str:
    if g.kind == "Point":
        return "<Point><coordinates>" + _coords([g.coords]) + "</coordinates></Point>"
    if g.kind == "LineString":
        return (
            "<LineString><coordinates>"
            + _coords(g.coords)
            + "</coordinates></LineString>"
        )
    if g.kind == "Polygon":
        shell, *holes = g.coords
        out = [
            "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
            + _coords(shell)
            + "</coordinates></LinearRing></outerBoundaryIs>"
        ]
        for h in holes:
            out.append(
                "<innerBoundaryIs><LinearRing><coordinates>"
                + _coords(h)
                + "</coordinates></LinearRing></innerBoundaryIs>"
            )
        out.append("</Polygon>")
        return "".join(out)
    if g.kind == "MultiPoint":
        subs = [Geometry("Point", c) for c in g.coords]
    elif g.kind == "MultiLineString":
        subs = [Geometry("LineString", c) for c in g.coords]
    elif g.kind == "MultiPolygon":
        subs = [Geometry("Polygon", c) for c in g.coords]
    else:  # GeometryCollection flattens (KML has only MultiGeometry)
        subs = list(g.coords)
    return "<MultiGeometry>" + "".join(_kml(s) for s in subs) + "</MultiGeometry>"


def _export(wkt, render) -> str | None:
    if wkt is None:
        return None
    s = str(wkt).strip()
    if _ov._EMPTY_RE.match(s.upper()):
        return None  # GML 2 / KML cannot spell EMPTY — loud
    g = G.parse_wkt(s)
    if g is None:
        return None
    if not all(
        math.isfinite(x) and math.isfinite(y) for x, y in G._points(g)
    ):
        return None  # 'nan,0' is not valid XML coordinate text — loud
    return render(g)


def asgml_wkt(wkt) -> str | None:
    return _export(wkt, _gml)


def askml_wkt(wkt) -> str | None:
    return _export(wkt, _kml)


@pandas_udf(StringType())
def st_asgml(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(asgml_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def st_askml(wkt: pd.Series) -> pd.Series:
    out = []
    for w in wkt:
        try:
            out.append(askml_wkt(w))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


ALL_EXPORT_FUNCTIONS = {
    "st_asgml": st_asgml,
    "st_askml": st_askml,
}
