"""DE-9IM relation predicates: touches / disjoint / equals / overlaps / crosses.

The reference forwards any PostGIS function name it does not special-case
straight to PostGIS (reference src/index.ts:44-63), so a thesis-style user
can write ``ST_Touches(a.geom, b.geom)`` and expect an answer — the F12
"whatever PostGIS accepts" surface (SURVEY.md §2.6). VERDICT r4 flagged
these five predicates (plus an ST_Union aggregate, see ``union_ops``) as
the common PostGIS names still missing here. This module implements them
as first-class vectorized predicates over the same WKT geometry model as
``spatial.py``.

Semantics follow DE-9IM / PostGIS:

- ``touches``:  geometries intersect but their *interiors* do not.
  False for point/point pairs (a point's interior is the point).
- ``disjoint``: no shared point at all (``NOT ST_Intersects``).
- ``equals``:   identical point sets (orientation / vertex order / part
  order irrelevant).
- ``overlaps``: same topological dimension, interiors intersect, and
  neither geometry covers the other.
- ``crosses``:  interiors intersect in a lower dimension than the inputs
  (line/line meeting at isolated points; line or multipoint partly
  inside and partly outside a polygon).

Interior/boundary machinery reuses the exact-arithmetic primitives of
``geometry.py`` (orientation tests, ray casting, the sub-segment
splitting idea from ``within``'s tangency handling). MultiLineString
boundaries use the OGC mod-2 rule (a point is boundary iff it ends an
odd number of component curves). As with ``within``, tangency splitting
keys on exact collinearity (``_orient == 0``) — coordinates a float-ulp
off the edge line degrade to the generic (non-split) path.

This is a NEW module rather than an extension of ``spatial.py`` on
purpose: staleness fingerprints are module-granular over import closures
(``staleness.py``), so widening the SQL surface here leaves every
already-verified spatial query's fingerprint untouched.
"""

from __future__ import annotations

import math
from fractions import Fraction

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from . import geometry as G
from .geometry import Geometry, Point
from .spatial import _binary_fallback

# ---------------------------------------------------------------------------
# decomposition helpers
# ---------------------------------------------------------------------------


def _parts(g: Geometry) -> list[Geometry]:
    """Simple (non-multi) parts of a geometry. Per-part interiors are
    exact for MultiPoint/MultiPolygon; for MultiLineString a junction
    endpoint shared by an even number of components is interior to the
    WHOLE but boundary of each part, so interior tests must go through
    _interior_units (r14), which keeps lineal parts together."""
    if g.kind == "MultiPoint":
        return [Geometry("Point", p) for p in g.coords]
    if g.kind == "MultiLineString":
        return [Geometry("LineString", line) for line in g.coords]
    if g.kind == "MultiPolygon":
        return [Geometry("Polygon", rings) for rings in g.coords]
    if g.kind == "GeometryCollection":
        return [p for sub in g.coords for p in _parts(sub)]
    return [g]


def _ringlines(g: Geometry) -> Geometry:
    """All rings of all polygon parts as one closed MultiLineString
    (closed rings have an empty mod-2 boundary, so their line-interior
    is the whole curve — exactly the polygon-boundary semantics).
    Shared by relate.py (DE-9IM boundary cells) and validity.py
    (MultiPolygon boundary-contact checks)."""
    return Geometry("MultiLineString", [list(r) for rings in G._polys(g) for r in rings])


def _line_components(g: Geometry) -> list[list[Point]]:
    if g.kind == "LineString":
        return [g.coords]
    if g.kind == "MultiLineString":
        return list(g.coords)
    if g.kind == "GeometryCollection":
        return [c for sub in g.coords for c in _line_components(sub)]
    return []


def _line_boundary(g: Geometry) -> set[Point]:
    """OGC mod-2 boundary of a (multi)linestring: endpoints that close an
    odd number of components. A closed ring contributes its start point
    twice, so it has no boundary."""
    counts: dict[Point, int] = {}
    for comp in _line_components(g):
        if len(comp) < 2:
            continue
        for p in (comp[0], comp[-1]):
            counts[p] = counts.get(p, 0) + 1
    return {p for p, c in counts.items() if c % 2 == 1}


# ---------------------------------------------------------------------------
# exact point-vs-segment / point-vs-polygon classification
# ---------------------------------------------------------------------------


def _on_segment(p: Point, a: Point, b: Point) -> bool:
    """Exact: p collinear with ab and inside ab's bbox. A Fraction
    probe (an engine-SYNTHESIZED point, r12) lifts the segment
    endpoints losslessly so the collinearity test is exact — the float
    orient rounded synthesized midpoints off their own segment."""
    if not (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    ):
        return False
    if isinstance(p[0], Fraction) or isinstance(p[1], Fraction):
        if not all(math.isfinite(v) for pt in (a, b) for v in pt):
            # NaN in ONE ordinate passes the bbox test on the other
            # (code-review r12) — Fraction(nan) would crash the batch
            return False
        ax, ay = Fraction(a[0]), Fraction(a[1])
        return (Fraction(b[0]) - ax) * (p[1] - ay) - (
            Fraction(b[1]) - ay
        ) * (p[0] - ax) == 0
    # float probes: the shared exact point-on-segment predicate
    # (geometry._pt_on_seg — one home for the bbox + filtered-orient
    # pair, code-review r14)
    return G._pt_on_seg(p, a, b)


def _on_any_segment(p: Point, segs: list[tuple[Point, Point]]) -> bool:
    return any(_on_segment(p, a, b) for a, b in segs)


def _point_in_line_interior(p: Point, g: Geometry, segs=None) -> bool:
    segs = list(G._segments(g)) if segs is None else segs
    return _on_any_segment(p, segs) and p not in _line_boundary(g)


def _strictly_inside(p: Point, poly: Geometry, boundary=None) -> bool:
    """p in the open interior of a (multi)polygon. Fraction probes
    (synthesized sub-midpoints, r12) evaluate exactly."""
    boundary = list(G._segments(poly)) if boundary is None else boundary
    if _on_any_segment(p, boundary):
        return False
    if isinstance(p[0], Fraction) or isinstance(p[1], Fraction):
        px, py = Fraction(p[0]), Fraction(p[1])
        return any(
            G._point_in_polygon_frac(px, py, rings, boundary=False)
            for rings in G._polys(poly)
        )
    return any(G._point_in_polygon(p[0], p[1], rings) for rings in G._polys(poly))


def _outside_closure(p: Point, poly: Geometry) -> bool:
    """p not in the closed (multi)polygon. ``_point_in_polygon`` counts
    boundary points as inside, so no separate boundary check is
    needed. Fraction probes evaluate exactly (r12)."""
    if isinstance(p[0], Fraction) or isinstance(p[1], Fraction):
        px, py = Fraction(p[0]), Fraction(p[1])
        return not any(
            G._point_in_polygon_frac(px, py, rings, boundary=True)
            for rings in G._polys(poly)
        )
    return not any(G._point_in_polygon(p[0], p[1], rings) for rings in G._polys(poly))


# ---------------------------------------------------------------------------
# segment splitting (the `within` tangency idea, generalized)
# ---------------------------------------------------------------------------


_exact_split_points = G._exact_split_points


def _submidpoints(g, boundary_segs) -> list[Point]:
    """Midpoints of every sub-segment of ``g``'s segments after
    splitting at all EXACT contacts with ``boundary_segs`` (Fraction
    points — see _exact_split_points). The midpoint of two points
    exactly on a line is exactly on that line, so boundary-coincident
    sub-segments classify as boundary, never as 1-ulp-off interior."""
    out: list[Point] = []
    for a1, a2 in G._segments(g):
        if not all(math.isfinite(v) for pt in (a1, a2) for v in pt):
            # old float behavior: a NaN midpoint classifies as nothing
            out.append(((a1[0] + a2[0]) / 2.0, (a1[1] + a2[1]) / 2.0))
            continue
        fa = (Fraction(a1[0]), Fraction(a1[1]))
        fb = (Fraction(a2[0]), Fraction(a2[1]))
        chain = [fa, *_exact_split_points(a1, a2, boundary_segs), fb]
        for p, q in zip(chain, chain[1:]):
            out.append(((p[0] + q[0]) / 2, (p[1] + q[1]) / 2))
    return out


def _segs_collinear_overlap(a1: Point, a2: Point, b1: Point, b2: Point) -> bool:
    """The two segments share a positive-length collinear stretch.
    Shared by the geometry-pair scan below and measures.is_simple."""
    if G._orient(a1, a2, b1) != 0 or G._orient(a1, a2, b2) != 0:
        return False
    if all(math.isfinite(v) for pt in (a1, a2, b1, b2) for v in pt):
        # collinearity held EXACTLY (filtered orient, r14) — finish the
        # overlap-length test exactly too: the float parameter division
        # could round a 1-ulp overlap to zero (or a zero to positive)
        ax, ay = Fraction(a1[0]), Fraction(a1[1])
        dx, dy = Fraction(a2[0]) - ax, Fraction(a2[1]) - ay
        len2 = dx * dx + dy * dy
        if len2 == 0:
            return False
        t1 = ((Fraction(b1[0]) - ax) * dx + (Fraction(b1[1]) - ay) * dy) / len2
        t2 = ((Fraction(b2[0]) - ax) * dx + (Fraction(b2[1]) - ay) * dy) / len2
        lo, hi = (t1, t2) if t1 <= t2 else (t2, t1)
        return min(hi, Fraction(1)) > max(lo, Fraction(0))
    dx, dy = a2[0] - a1[0], a2[1] - a1[1]
    len2 = dx * dx + dy * dy
    if len2 == 0.0:
        return False
    t1 = ((b1[0] - a1[0]) * dx + (b1[1] - a1[1]) * dy) / len2
    t2 = ((b2[0] - a1[0]) * dx + (b2[1] - a1[1]) * dy) / len2
    lo, hi = (t1, t2) if t1 <= t2 else (t2, t1)
    return min(hi, 1.0) > max(lo, 0.0)


def _collinear_overlap_exists(a: Geometry, b: Geometry) -> bool:
    """Some pair of segments shares a positive-length collinear stretch."""
    segs_b = list(G._segments(b))
    for a1, a2 in G._segments(a):
        for b1, b2 in segs_b:
            if _segs_collinear_overlap(a1, a2, b1, b2):
                return True
    return False


def _covered_line(a: Geometry, b: Geometry) -> bool:
    """Every point of line ``a`` lies on line ``b``. Each segment of a is
    split at b-vertices on it; a sub-segment (no b-vertex in its
    interior) is covered iff one single b-segment collinear with it spans
    both its endpoints — piecewise coverage must hand over at b vertices,
    which are all split points."""
    segs_b = list(G._segments(b))
    for a1, a2 in G._segments(a):
        dx, dy = a2[0] - a1[0], a2[1] - a1[1]
        len2 = dx * dx + dy * dy
        if len2 == 0.0:
            if not _on_any_segment(a1, segs_b):
                return False
            continue
        if not all(math.isfinite(v) for pt in (a1, a2) for v in pt):
            return False  # a non-finite point is covered by nothing
        # exact synthesized split points (r12, same fix as
        # _submidpoints) — float evaluation broke equals(line, line)
        # for float-coordinate lines
        fa = (Fraction(a1[0]), Fraction(a1[1]))
        fb = (Fraction(a2[0]), Fraction(a2[1]))
        chain = [fa, *_exact_split_points(a1, a2, segs_b), fb]
        for p, q in zip(chain, chain[1:]):
            if not any(_span_covers(b1, b2, p, q) for b1, b2 in segs_b):
                return False
    return True


def _span_covers(b1: Point, b2: Point, p: Point, q: Point) -> bool:
    """Both p and q lie on the single segment b1b2."""
    return _on_segment(p, b1, b2) and _on_segment(q, b1, b2)


# ---------------------------------------------------------------------------
# interiors_intersect: the workhorse behind touches/overlaps/crosses
# ---------------------------------------------------------------------------


def _pair_interiors_intersect(a: Geometry, b: Geometry) -> bool:
    da, db = G.dimension(a), G.dimension(b)
    if da > db:
        a, b, da, db = b, a, db, da
    if db == 0:  # point vs point
        return a.coords == b.coords
    if db == 1:
        if da == 0:  # point vs line
            return _point_in_line_interior(a.coords, b)
        return _line_line_interiors(a, b)
    # db == 2
    if da == 0:  # point vs polygon
        return _strictly_inside(a.coords, b)
    boundary_b = list(G._segments(b))
    if da == 1:  # line vs polygon
        return any(_strictly_inside(m, b, boundary_b) for m in _submidpoints(a, boundary_b))
    # polygon vs polygon
    segs_a = list(G._segments(a))
    bb = G._seg_bboxes(boundary_b)
    for a1, a2 in segs_a:
        axmin, axmax = (a1[0], a2[0]) if a1[0] <= a2[0] else (a2[0], a1[0])
        aymin, aymax = (a1[1], a2[1]) if a1[1] <= a2[1] else (a2[1], a1[1])
        for (b1, b2), (bxmin, bymin, bxmax, bymax) in zip(boundary_b, bb):
            if axmax < bxmin or bxmax < axmin or aymax < bymin or bymax < aymin:
                continue
            if G._segs_cross_properly(a1, a2, b1, b2):
                return True
    if any(_strictly_inside(m, b, boundary_b) for m in _submidpoints(a, boundary_b)):
        return True
    if any(_strictly_inside(m, a, segs_a) for m in _submidpoints(b, segs_a)):
        return True
    # boundaries fully coincident (equal rectangles etc.): no midpoint is
    # strictly inside either, but the shared interior is nonempty
    return G.within(a, b) and G.within(b, a)


def _line_line_interiors(a: Geometry, b: Geometry) -> bool:
    segs_a, segs_b = list(G._segments(a)), list(G._segments(b))
    bb = G._seg_bboxes(segs_b)
    for a1, a2 in segs_a:
        axmin, axmax = (a1[0], a2[0]) if a1[0] <= a2[0] else (a2[0], a1[0])
        aymin, aymax = (a1[1], a2[1]) if a1[1] <= a2[1] else (a2[1], a1[1])
        for (b1, b2), (bxmin, bymin, bxmax, bymax) in zip(segs_b, bb):
            if axmax < bxmin or bxmax < axmin or aymax < bymin or bymax < aymin:
                continue
            if G._segs_cross_properly(a1, a2, b1, b2):
                return True  # crossing point is a non-vertex of both
    if _collinear_overlap_exists(a, b):
        return True  # a positive-length stretch contains non-vertex points
    # vertex contacts: a vertex interior to its own line landing in the
    # other line's interior
    ba, bnd_b = _line_boundary(a), _line_boundary(b)
    for comp in _line_components(a):
        for v in comp:
            if v not in ba and _on_any_segment(v, segs_b) and v not in bnd_b:
                return True
    for comp in _line_components(b):
        for v in comp:
            if v not in bnd_b and _on_any_segment(v, segs_a) and v not in ba:
                return True
    return False


def _interior_units(g: Geometry) -> list[Geometry]:
    """Decomposition for interior tests: point and polygon parts split
    (their interiors are exactly the union of part interiors), but ALL
    lineal parts stay together as one (Multi)LineString — the OGC mod-2
    rule makes a junction endpoint shared by an even number of
    components INTERIOR to the whole, which per-part boundaries call
    boundary (r14: the MULTIPOINT-on-junction fuzz found touches()
    disagreeing with the DE-9IM matrix). The line kernels
    (_point_in_line_interior, _line_line_interiors, _submidpoints) are
    all whole-geometry capable via _line_components/_line_boundary."""
    parts = _parts(g)
    lines = [p for p in parts if p.kind == "LineString"]
    units = [p for p in parts if p.kind != "LineString"]
    if len(lines) == 1:
        units.append(lines[0])
    elif lines:
        units.append(
            Geometry("MultiLineString", [list(p.coords) for p in lines])
        )
    return units


def interiors_intersect(a: Geometry, b: Geometry) -> bool:
    """True iff the interiors of a and b share at least one point.
    Multi-part inputs decompose into part pairs (lineal parts kept
    whole — see _interior_units)."""
    return any(
        _pair_interiors_intersect(pa, pb)
        for pa in _interior_units(a)
        for pb in _interior_units(b)
    )


# ---------------------------------------------------------------------------
# the predicates
# ---------------------------------------------------------------------------


def within_ogc(a: Geometry, b: Geometry) -> bool:
    """OGC/PostGIS ST_Within: a covered by b AND the interiors share a
    point. ``geometry.within`` alone is the boundary-inclusive COVERS
    test (a point on b's boundary is covered but not within — the
    classic ST_Within/ST_Covers distinction the r10 relate-consistency
    fuzz surfaced)."""
    return G.within(a, b) and interiors_intersect(a, b)


def touches(a: Geometry, b: Geometry) -> bool:
    """DE-9IM touches: shared points exist, shared interior points don't."""
    return G.intersects(a, b) and not interiors_intersect(a, b)


def disjoint(a: Geometry, b: Geometry) -> bool:
    return not G.intersects(a, b)


def equals(a: Geometry, b: Geometry) -> bool:
    """Point-set equality (ST_Equals): vertex order, ring orientation and
    part decomposition are irrelevant."""
    da, db = G.dimension(a), G.dimension(b)
    if da != db:
        return False
    if da == 0:
        return set(G._points(a)) == set(G._points(b))
    if da == 1:
        return _covered_line(a, b) and _covered_line(b, a)
    return G.within(a, b) and G.within(b, a)


def overlaps(a: Geometry, b: Geometry) -> bool:
    """Same dimension, interiors intersect, neither covers the other."""
    da, db = G.dimension(a), G.dimension(b)
    if da != db:
        return False
    if da == 0:
        pa, pb = set(G._points(a)), set(G._points(b))
        return bool(pa & pb) and bool(pa - pb) and bool(pb - pa)
    if da == 1:
        return (
            _collinear_overlap_exists(a, b)
            and not _covered_line(a, b)
            and not _covered_line(b, a)
        )
    return (
        interiors_intersect(a, b) and not G.within(a, b) and not G.within(b, a)
    )


def crosses(a: Geometry, b: Geometry) -> bool:
    """Interiors meet in a strictly lower dimension than max(dim a, dim b):
    line/line meeting at isolated points, or a line/multipoint partly
    inside and partly outside a polygon or line."""
    da, db = G.dimension(a), G.dimension(b)
    if da > db:
        a, b, da, db = b, a, db, da
    if da == db == 1:
        return _line_line_interiors(a, b) and not _collinear_overlap_exists(a, b)
    if da == 0 and db >= 1:
        pts = G._points(a)
        if db == 1:
            segs_b = list(G._segments(b))
            some_in = any(_point_in_line_interior(p, b, segs_b) for p in pts)
            some_out = any(not _on_any_segment(p, segs_b) for p in pts)
        else:
            some_in = any(_strictly_inside(p, b) for p in pts)
            some_out = any(_outside_closure(p, b) for p in pts)
        return some_in and some_out
    if da == 1 and db == 2:
        boundary_b = list(G._segments(b))
        mids = _submidpoints(a, boundary_b)
        return any(_strictly_inside(m, b, boundary_b) for m in mids) and any(
            _outside_closure(m, b) for m in mids
        )
    return False  # polygon/polygon and point/point never cross


# ---------------------------------------------------------------------------
# vectorized SQL surface
# ---------------------------------------------------------------------------


@pandas_udf(BooleanType())
def st_touches(a: pd.Series, b: pd.Series) -> pd.Series:
    return _binary_fallback(a, b, touches, dtype="boolean")


@pandas_udf(BooleanType())
def st_disjoint(a: pd.Series, b: pd.Series) -> pd.Series:
    return _binary_fallback(a, b, disjoint, dtype="boolean")


@pandas_udf(BooleanType())
def st_equals(a: pd.Series, b: pd.Series) -> pd.Series:
    return _binary_fallback(a, b, equals, dtype="boolean")


@pandas_udf(BooleanType())
def st_overlaps(a: pd.Series, b: pd.Series) -> pd.Series:
    return _binary_fallback(a, b, overlaps, dtype="boolean")


@pandas_udf(BooleanType())
def st_crosses(a: pd.Series, b: pd.Series) -> pd.Series:
    return _binary_fallback(a, b, crosses, dtype="boolean")


ALL_RELATION_FUNCTIONS = {
    "st_touches": st_touches,
    "st_disjoint": st_disjoint,
    "st_equals": st_equals,
    "st_overlaps": st_overlaps,
    "st_crosses": st_crosses,
}
