"""ST_MinkowskiSum — the SFCGAL Minkowski sum a PostGIS install with
the sfcgal extension exposes (the reference forwards the name
verbatim, src/index.ts:44-63). PostGIS's contract: the second
argument must be a POLYGON; the first may be puntal, lineal, or
polygonal (Multi* parts sum independently and the results dissolve).

Exact construction on the engine's own kernels:

1. POINT first arguments translate the polygon directly (holes
   preserved — a point sum is a rigid translation).
2. otherwise both sides decompose to convex pieces: the polygon(s)
   through the exact ear-clipping triangulation
   (measures.triangulate_polygon), line strings into segments.
3. each (piece_a ⊕ piece_b) is CONVEX, and the Minkowski sum of
   convex point sets is the convex hull of the pairwise vertex sums
   (9 sums for triangle⊕triangle, 6 for segment⊕triangle) — exact
   float arithmetic on integer fixtures, via geometry.convex_hull.
4. the pieces dissolve through the exact boundary-dissolved union
   (union_ops.union_geoms — the q124 kernel).

Known boundaries, all loud NULLs:

- holed or non-simple polygons (outside the ear clipper — same gate
  as st_triangulatepolygon / st_tesselate; PostGIS's SFCGAL handles
  holes, so this is a documented narrower domain),
- a second argument that is not a single POLYGON,
- GEOMETRYCOLLECTION first arguments,
- piece products past the 20 000 budget (quadratic-pair guard).

Typed EMPTY on either side → ``POLYGON EMPTY`` (a sum with the empty
set is empty).

Scale shape: map-only Arrow-batched pandas UDF; per-row cost is
(pieces_a × pieces_b) bounded by the budget — no shuffle.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from . import geometry as G
from . import overlay as _ov
from .geometry import Geometry
from .measures import triangulate_polygon
from .union_ops import union_geoms
from .wkt import _safe

_MAX_PAIRS = 20_000


def _triangles(g: Geometry) -> list[list[tuple]] | None:
    """Triangle vertex triples of a polygonal geometry (ear clipping)."""
    try:
        gc = triangulate_polygon(g)
    except Exception:
        return None
    if gc is None:
        return None
    out = []
    for tri in gc.coords:
        ring = tri.coords[0]
        out.append([tuple(p) for p in ring[:3]])
    return out


def _pieces_a(g: Geometry) -> list[list[tuple]] | None:
    """Convex vertex sets of the first argument (segments/triangles)."""
    if g.kind in ("Polygon", "MultiPolygon"):
        return _triangles(g)
    if g.kind == "LineString":
        return [
            [tuple(p), tuple(q)] for p, q in zip(g.coords, g.coords[1:])
        ]
    if g.kind == "MultiLineString":
        out = []
        for ch in g.coords:
            out.extend([tuple(p), tuple(q)] for p, q in zip(ch, ch[1:]))
        return out
    if g.kind == "MultiPoint":
        return [[tuple(p)] for p in g.coords]
    return None  # Point handled earlier; collections unsupported


def minkowski_wkt(wa, wb) -> str | None:
    if wa is None or wb is None:
        return None
    sa, sb = str(wa).strip(), str(wb).strip()
    if _ov._EMPTY_RE.match(sa.upper()) or _ov._EMPTY_RE.match(sb.upper()):
        return "POLYGON EMPTY"
    ga, gb = G.parse_wkt(sa), G.parse_wkt(sb)
    if ga is None or gb is None or gb.kind != "Polygon":
        return None
    pts = list(G._points(ga)) + list(G._points(gb))
    if not all(math.isfinite(v) for p in pts for v in p):
        return None
    if ga.kind == "Point":
        # rigid translation — holes preserved, no triangulation needed
        dx, dy = ga.coords
        moved = Geometry(
            "Polygon",
            [[(x + dx, y + dy) for x, y in ring] for ring in gb.coords],
        )
        return G.to_wkt(moved)
    tri_b = _triangles(gb)
    if tri_b is None:
        return None
    pieces_a = _pieces_a(ga)
    if pieces_a is None or not pieces_a:
        return None
    if len(pieces_a) * len(tri_b) > _MAX_PAIRS:
        return None  # quadratic-pair budget — loud
    hulls: list[Geometry] = []
    for va in pieces_a:
        for vb in tri_b:
            sums = [(ax + bx, ay + by) for ax, ay in va for bx, by in vb]
            h = G.convex_hull(Geometry("MultiPoint", sums))
            if h.kind == "Polygon":
                hulls.append(h)
            # degenerate (collinear) pieces contribute no area; the
            # polygonal neighbors cover their support
    if not hulls:
        return None
    out = union_geoms(hulls)
    return None if out is None else G.to_wkt(out)


@pandas_udf(StringType())
def st_minkowskisum(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [_safe(minkowski_wkt, x, y) for x, y in zip(a, b)], dtype="object"
    )


ALL_MINKOWSKI_FUNCTIONS = {
    "st_minkowskisum": st_minkowskisum,
}
