"""ST_Intersection / ST_Difference: exact-class unit cases, grid-truth
property tests, SQL surface, and q139 oracle parity.

The overlay exactness boundary (functions/overlay.py docstring): every
simple-ring polygon pair is exact through the arrangement-face kernel;
outside the class the functions return NULL (never a silently wrong
geometry)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import geometry as G
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.geometry import Geometry
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.families import register_all
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import union_ops as U
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (
    difference_wkt,
    intersection_wkt,
    symdifference_wkt,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.operators import load_all
from sql_interface_to_xml_database_for_spatial_operations_spark.operators.registry import QUERIES

from conftest import SF_DIR, assert_parity

BOX = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"


def _area(wkt: str) -> float:
    if wkt.endswith("EMPTY"):
        return 0.0
    return G.area(G.parse_wkt(wkt))


class TestKnownCases:
    def test_rect_rect_overlap(self):
        b = "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"
        assert intersection_wkt(BOX, b) == "POLYGON ((5 5, 10 5, 10 10, 5 10, 5 5))"
        assert _area(difference_wkt(BOX, b)) == 75.0
        assert _area(difference_wkt(b, BOX)) == 75.0

    def test_disjoint_is_empty(self):
        far = "POLYGON ((100 100, 110 100, 110 110, 100 110, 100 100))"
        assert intersection_wkt(BOX, far) == "POLYGON EMPTY"
        # kept whole, re-serialized by the face overlay's ring walk
        assert difference_wkt(BOX, far) == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"

    def test_contained(self):
        inner = "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))"
        assert intersection_wkt(BOX, inner) == intersection_wkt(inner, BOX)
        assert _area(intersection_wkt(BOX, inner)) == 4.0
        assert difference_wkt(inner, BOX) == "POLYGON EMPTY"
        got = G.parse_wkt(difference_wkt(BOX, inner))
        assert G.area(got) == 96.0
        assert len(got.coords) == 2  # hole

    def test_edge_touch_only(self):
        nbr = "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"
        # r8 PostGIS parity: touching polygons return the shared
        # boundary (1-D), corner contacts a POINT — not EMPTY
        assert intersection_wkt(BOX, nbr) == "LINESTRING (10 0, 10 10)"
        assert _area(difference_wkt(BOX, nbr)) == 100.0
        partial = "POLYGON ((10 2, 20 2, 20 8, 10 8, 10 2))"
        assert intersection_wkt(BOX, partial) == "LINESTRING (10 2, 10 8)"
        corner = "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))"
        assert intersection_wkt(BOX, corner) == "POINT (10 10)"
        # tangent line x polygon touch is the touch point now too
        assert intersection_wkt("LINESTRING (9 11, 11 9)", BOX) == "POINT (10 10)"
        # triangles sharing a corner
        assert (
            intersection_wkt(
                "POLYGON ((0 0, 4 0, 2 4, 0 0))", "POLYGON ((4 0, 8 0, 6 4, 4 0))"
            )
            == "POINT (4 0)"
        )

    def test_lshape_difference_splits(self):
        lsh = "POLYGON ((0 0, 20 0, 20 10, 10 10, 10 20, 0 20, 0 0))"
        sub = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        got = G.parse_wkt(difference_wkt(lsh, sub))
        assert got.kind == "MultiPolygon"
        assert G.area(got) == 200.0

    def test_triangle_intersection_known(self):
        t1 = "POLYGON ((0 0, 4 0, 2 4, 0 0))"
        t2 = "POLYGON ((2 -1, 6 -1, 4 3, 2 -1))"
        got = intersection_wkt(t1, t2)
        assert got == "POLYGON ((2.5 0, 4 0, 3.25 1.5, 2.5 0))"
        assert intersection_wkt(t2, t1) is not None
        assert _area(intersection_wkt(t2, t1)) == _area(got)

    def test_convex_difference_partial_exact(self):
        t1 = "POLYGON ((0 0, 4 0, 2 4, 0 0))"
        t2 = "POLYGON ((2 -1, 6 -1, 4 3, 2 -1))"
        # area(a−b) = area(a) − area(a∩b)
        assert abs(
            _area(difference_wkt(t1, t2)) - (_area(t1) - _area(intersection_wkt(t1, t2)))
        ) < 1e-9

    def test_convex_slab_difference_splits_two(self):
        sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        # a convex slab cutting clean through the square leaves 2 parts
        slab = "POLYGON ((4 -5, 6 -5, 6 15, 4 15, 4 -5))"
        got = G.parse_wkt(difference_wkt(sq, slab))
        assert G.area(got) == 80.0

    def test_line_difference(self):
        got = difference_wkt("LINESTRING (-5 5, 20 5)", BOX)
        g = G.parse_wkt(got)
        assert g.kind == "MultiLineString"
        assert G.length(g) == 15.0  # 25 total − 10 inside
        tri = "POLYGON ((0 0, 4 0, 2 4, 0 0))"
        assert _area(intersection_wkt("LINESTRING (0 1, 1 1)", tri)) == 0.0  # degenerate ok

    def test_convex_difference_disjoint_and_swallowed(self):
        t1 = "POLYGON ((0 0, 4 0, 2 4, 0 0))"
        far = "POLYGON ((50 50, 54 50, 52 54, 50 50))"
        assert difference_wkt(t1, far) == t1
        big = "POLYGON ((-10 -10, 30 -10, 10 30, -10 -10))"
        assert difference_wkt(t1, big) == "POLYGON EMPTY"

    def test_point_cases(self):
        assert intersection_wkt("POINT (1 1)", BOX) == "POINT (1 1)"
        assert intersection_wkt("POINT (0 5)", BOX) == "POINT (0 5)"  # boundary: closure
        assert intersection_wkt("POINT (50 50)", BOX) == "POINT EMPTY"
        assert difference_wkt("POINT (1 1)", BOX) == "POINT EMPTY"
        assert difference_wkt("POINT (50 50)", BOX) == "POINT (50 50)"

    def test_multipoint_membership(self):
        mp = "MULTIPOINT (1 1, 50 50, 3 3)"
        assert intersection_wkt(mp, BOX) == "MULTIPOINT (1 1, 3 3)"
        assert difference_wkt(mp, BOX) == "POINT (50 50)"

    def test_line_clip_convex(self):
        assert intersection_wkt("LINESTRING (-5 5, 20 5)", BOX) == "LINESTRING (0 5, 10 5)"
        tri = "POLYGON ((0 0, 4 0, 2 4, 0 0))"
        got = G.parse_wkt(intersection_wkt("LINESTRING (-1 1, 5 1)", tri))
        assert got.kind == "LineString"
        assert G.length(got) == 3.0  # chord at y=1: x in [0.5, 3.5]

    def test_line_outside_is_empty(self):
        assert intersection_wkt("LINESTRING (-5 50, 20 50)", BOX) == "LINESTRING EMPTY"

    def test_nonconvex_pairs_triangulate_exact(self):
        nonconvex = "POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))"  # area 10
        tilted = "POLYGON ((1 0.5, 5 0.3, 3 5, 1 0.5))"
        inter, diff = intersection_wkt(nonconvex, tilted), difference_wkt(nonconvex, tilted)
        assert inter is not None and diff is not None
        assert abs(_area(inter) + _area(diff) - 10.0) < 1e-9
        assert abs(_area(intersection_wkt(tilted, nonconvex)) - _area(inter)) < 1e-9

    def test_holed_nonrectilinear_resolves_exact(self):
        # triangle (area 45) with a triangular hole (area 1) = outer − hole
        holed = "POLYGON ((0 0, 10 0, 5 9, 0 0), (4 1, 6 1, 5 2, 4 1))"
        assert abs(_area(intersection_wkt(holed, holed)) - 44.0) < 1e-9
        assert difference_wkt(holed, holed) == "POLYGON EMPTY"
        big = "POLYGON ((-1 -1, 11 -1, 11 10, -1 10, -1 -1))"
        assert abs(_area(intersection_wkt(holed, big)) - 44.0) < 1e-9
        # a probe fully inside the HOLE intersects nothing
        inhole = "POLYGON ((4.6 1.2, 5.4 1.2, 5 1.6, 4.6 1.2))"
        assert intersection_wkt(holed, inhole) == "POLYGON EMPTY"
        assert abs(_area(difference_wkt(inhole, holed)) - _area(inhole)) < 1e-9

    def test_unsupported_pairs_return_null(self):
        tri = "POLYGON ((1 0.5, 5 0.3, 3 5, 1 0.5))"
        bowtie = "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))"  # self-intersecting
        assert intersection_wkt(bowtie, tri) is None
        assert difference_wkt(bowtie, tri) is None
        assert difference_wkt(tri, bowtie) is None
        # collinear overlapping lines: exact 1-D span (r8, ADVICE r7 #1)
        assert (
            intersection_wkt("LINESTRING (0 0, 4 0)", "LINESTRING (2 0, 6 0)")
            == "LINESTRING (2 0, 4 0)"
        )

    def test_line_line_crossing_points(self):
        assert intersection_wkt("LINESTRING (0 0, 2 2)", "LINESTRING (2 0, 0 2)") == "POINT (1 1)"
        got = intersection_wkt("LINESTRING (0 1, 10 1)", "LINESTRING (1 0, 1 2, 3 2, 3 0)")
        assert got == "MULTIPOINT (1 1, 3 1)"
        assert intersection_wkt("LINESTRING (0 0, 1 0)", "LINESTRING (5 5, 6 6)") == "LINESTRING EMPTY"
        # endpoint touch counts (closure semantics)
        assert intersection_wkt("LINESTRING (0 0, 1 1)", "LINESTRING (1 1, 2 0)") == "POINT (1 1)"

    def test_rectilinear_nonconvex_with_convex(self):
        lsh = "POLYGON ((0 0, 20 0, 20 10, 10 10, 10 20, 0 20, 0 0))"
        tri = "POLYGON ((-10 -10, 40 -10, 15 40, -10 -10))"  # covers lsh? partially
        got = intersection_wkt(lsh, tri)
        assert got is not None
        # total area below both inputs
        assert 0.0 < _area(got) <= 300.0

    def test_null_and_empty_inputs(self):
        assert intersection_wkt(None, BOX) is None
        assert intersection_wkt("junk((", BOX) is None
        assert intersection_wkt("POLYGON EMPTY", BOX) == "POLYGON EMPTY"
        assert difference_wkt(BOX, "POLYGON EMPTY") == BOX
        assert difference_wkt("POLYGON EMPTY", BOX) == "POLYGON EMPTY"
        # a bare EMPTY suffix on garbage is NOT an empty geometry
        assert intersection_wkt("NOT_A_GEOMEMPTY", BOX) is None
        assert intersection_wkt("FOO EMPTY", BOX) is None

    def test_empty_result_typed_by_overlayng_rule(self):
        # GEOS OverlayNG: intersection -> min input dim, difference ->
        # minuend dim, symdifference -> max input dim (VERDICT r8 #4).
        line, far_line = "LINESTRING (0 0, 1 0)", "LINESTRING (50 50, 60 60)"
        pt = "POINT (50 50)"
        assert intersection_wkt(pt, BOX) == "POINT EMPTY"
        assert intersection_wkt(BOX, pt) == "POINT EMPTY"
        assert intersection_wkt(far_line, BOX) == "LINESTRING EMPTY"
        assert difference_wkt(line, line) == "LINESTRING EMPTY"
        assert difference_wkt("POINT (1 1)", BOX) == "POINT EMPTY"
        assert symdifference_wkt(line, BOX) is not None  # non-empty path
        # typed-EMPTY INPUTS take PostGIS's liblwgeom shortcut instead:
        # the empty input is echoed back verbatim (OverlayNG never sees
        # empty inputs), so Multi-kinds and GEOMETRYCOLLECTION survive.
        assert intersection_wkt("LINESTRING EMPTY", BOX) == "LINESTRING EMPTY"
        assert intersection_wkt("MULTIPOINT EMPTY", BOX) == "MULTIPOINT EMPTY"
        assert intersection_wkt(BOX, "multilinestring  empty") == "MULTILINESTRING EMPTY"
        assert (
            intersection_wkt("GEOMETRYCOLLECTION EMPTY", line)
            == "GEOMETRYCOLLECTION EMPTY"
        )
        assert difference_wkt("MULTILINESTRING EMPTY", BOX) == "MULTILINESTRING EMPTY"
        assert difference_wkt(BOX, "POINT EMPTY") == BOX
        assert symdifference_wkt("POINT EMPTY", line) == line
        assert symdifference_wkt(line, "POLYGON EMPTY") == line
        # liblwgeom operand precedence (ADVICE r9 #3): lwgeom_intersection
        # checks geom2 first, lwgeom_symdifference echoes geom1 when both
        # operands are empty.
        assert intersection_wkt("POLYGON EMPTY", "POINT EMPTY") == "POINT EMPTY"
        assert intersection_wkt(line, "POLYGON EMPTY") == "POLYGON EMPTY"
        assert symdifference_wkt("POINT EMPTY", "LINESTRING EMPTY") == "POINT EMPTY"

    def test_self_intersecting_rectilinear_ring_is_null(self):
        # axis-parallel but self-crossing at (2,2): the cell path would
        # silently reinterpret it even-odd — must be NULL instead
        twisted = "POLYGON ((0 0, 3 0, 3 2, 1 2, 1 1, 2 1, 2 3, 0 3, 0 0))"
        assert intersection_wkt(twisted, BOX) is None
        assert difference_wkt(twisted, BOX) is None
        assert difference_wkt(BOX, twisted) is None

    def test_collinear_endpoint_touch_is_point(self):
        got = intersection_wkt("LINESTRING (0 0, 1 0)", "LINESTRING (1 0, 2 0)")
        assert got == "POINT (1 0)"
        # positive-length collinear span: the exact 1-D overlap (r8;
        # the r7 shared-endpoint test was argument-order asymmetric —
        # ADVICE r7 #1 — so both orders are pinned here)
        assert (
            intersection_wkt("LINESTRING (0 0, 2 0)", "LINESTRING (1 0, 3 0)")
            == "LINESTRING (1 0, 2 0)"
        )
        assert (
            intersection_wkt("LINESTRING (0 0, 1 0)", "LINESTRING (0 0, 2 0)")
            == "LINESTRING (0 0, 1 0)"
        )
        assert (
            intersection_wkt("LINESTRING (0 0, 2 0)", "LINESTRING (0 0, 1 0)")
            == "LINESTRING (0 0, 1 0)"
        )
        # zero-length (repeated-vertex) segment vs crossing line
        got2 = intersection_wkt("LINESTRING (1 1, 1 1)", "LINESTRING (0 0, 2 2)")
        assert got2 == "POINT (1 1)"

    def test_line_line_span_difference(self):
        # ADVICE r7 #2: identical lines must difference to EMPTY, not
        # return the minuend
        assert (
            difference_wkt("LINESTRING (0 0, 2 0)", "LINESTRING (0 0, 2 0)")
            == "LINESTRING EMPTY"
        )
        assert (
            difference_wkt("LINESTRING (0 0, 2 0)", "LINESTRING (0 0, 1 0)")
            == "LINESTRING (1 0, 2 0)"
        )
        assert (
            difference_wkt("LINESTRING (0 0, 4 0)", "LINESTRING (1 0, 3 0)")
            == "MULTILINESTRING ((0 0, 1 0), (3 0, 4 0))"
        )
        # chain of subtrahend segments covering the minuend -> EMPTY
        assert (
            difference_wkt(
                "LINESTRING (0 0, 3 0)",
                "MULTILINESTRING ((0 0, 1 0), (1 0, 3 0))",
            )
            == "LINESTRING EMPTY"
        )
        # crossing-only subtrahend removes nothing (closure semantics)
        assert (
            difference_wkt("LINESTRING (0 0, 2 0)", "LINESTRING (1 -1, 1 1)")
            == "LINESTRING (0 0, 2 0)"
        )
        # minuend direction is preserved
        assert (
            difference_wkt("LINESTRING (2 0, 0 0)", "LINESTRING (0 0, 1 0)")
            == "LINESTRING (2 0, 1 0)"
        )

    def test_line_line_mixed_dimension_result(self):
        # a crossing point covered by a collinear span is subsumed
        got = intersection_wkt(
            "LINESTRING (0 0, 4 0)",
            "MULTILINESTRING ((1 0, 3 0), (2 -1, 2 1))",
        )
        assert got == "LINESTRING (1 0, 3 0)"
        # disjoint span + crossing point -> GeometryCollection
        got2 = intersection_wkt(
            "LINESTRING (0 0, 6 0)",
            "MULTILINESTRING ((1 0, 2 0), (5 -1, 5 1))",
        )
        assert got2 == "GEOMETRYCOLLECTION (POINT (5 0), LINESTRING (1 0, 2 0))"
        # duplicate spans from two subtrahend parts dissolve to one
        got3 = intersection_wkt(
            "LINESTRING (0 0, 4 0)",
            "MULTILINESTRING ((1 0, 3 0), (2 0, 4 0))",
        )
        assert got3 == "LINESTRING (1 0, 4 0)"


# ---------------------------------------------------------------------------
# grid-truth property tests (same cell brute force as test_union.py)
# ---------------------------------------------------------------------------


@st.composite
def _int_rects(draw, max_n=5):
    n = draw(st.integers(min_value=1, max_value=max_n))
    rects = []
    for _ in range(n):
        x0 = draw(st.integers(min_value=-5, max_value=4))
        y0 = draw(st.integers(min_value=-5, max_value=4))
        rects.append(
            (
                float(x0),
                float(y0),
                float(x0 + draw(st.integers(min_value=1, max_value=5))),
                float(y0 + draw(st.integers(min_value=1, max_value=5))),
            )
        )
    return rects


def _cells(rects):
    return {
        (i, j)
        for x0, y0, x1, y1 in rects
        for i in range(int(x0), int(x1))
        for j in range(int(y0), int(y1))
    }


@settings(max_examples=200, deadline=None)
@given(_int_rects(), _int_rects())
def test_rectilinear_overlay_matches_bruteforce(ra, rb):
    """a∩b and a−b over arbitrary rectilinear unions: areas equal the
    unit-cell truth, and the partition a = (a∩b) ⊎ (a−b) holds."""
    ga = U.union_geoms([G.Geometry.box(*r) for r in ra])
    gb = U.union_geoms([G.Geometry.box(*r) for r in rb])
    wa, wb = G.to_wkt(ga), G.to_wkt(gb)
    ca, cb = _cells(ra), _cells(rb)
    inter, diff = intersection_wkt(wa, wb), difference_wkt(wa, wb)
    assert inter is not None and diff is not None
    assert _area(inter) == float(len(ca & cb))
    assert _area(diff) == float(len(ca - cb))
    assert _area(inter) + _area(diff) == _area(wa)
    # commutativity of intersection
    assert _area(intersection_wkt(wb, wa)) == _area(inter)
    # WKT round-trips (empty stays empty, geometry re-parses)
    if not inter.endswith("EMPTY"):
        assert G.area(G.parse_wkt(G.to_wkt(G.parse_wkt(inter)))) == _area(inter)


@st.composite
def _convex_poly(draw):
    """Random convex polygon: convex hull of integer points."""
    pts = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=-8, max_value=8),
                st.integers(min_value=-8, max_value=8),
            ),
            min_size=3,
            max_size=8,
            unique=True,
        )
    )
    hull = G.convex_hull(G.Geometry("MultiPoint", [(float(x), float(y)) for x, y in pts]))
    if hull.kind != "Polygon":
        return None
    return G.to_wkt(hull)


@st.composite
def _star_poly(draw):
    """Random star-shaped (always simple, usually non-convex) polygon:
    vertices at increasing angles around a center with varying radii."""
    import math as m

    n = draw(st.integers(min_value=4, max_value=9))
    cx = draw(st.integers(min_value=-3, max_value=3))
    cy = draw(st.integers(min_value=-3, max_value=3))
    radii = [draw(st.integers(min_value=1, max_value=7)) for _ in range(n)]
    ring = [
        (cx + r * m.cos(2 * m.pi * k / n), cy + r * m.sin(2 * m.pi * k / n))
        for k, r in enumerate(radii)
    ]
    ring.append(ring[0])
    return G.to_wkt(G.Geometry("Polygon", [ring]))


@st.composite
def _holed_star(draw):
    """Star polygon with a scaled-down copy of itself as a hole (always
    strictly inside for a star about its own center)."""
    import math as m

    n = draw(st.integers(min_value=4, max_value=8))
    cx = float(draw(st.integers(min_value=-3, max_value=3)))
    cy = float(draw(st.integers(min_value=-3, max_value=3)))
    radii = [draw(st.integers(min_value=2, max_value=7)) for _ in range(n)]
    outer = [
        (cx + r * m.cos(2 * m.pi * k / n), cy + r * m.sin(2 * m.pi * k / n))
        for k, r in enumerate(radii)
    ]
    hole = [(cx + (x - cx) * 0.4, cy + (y - cy) * 0.4) for x, y in outer]
    outer.append(outer[0])
    hole.append(hole[0])
    return G.to_wkt(G.Geometry("Polygon", [outer, hole]))


def _overlay_identities(wa: str, wb: str) -> None:
    """Shared property body. The kernels run on exact rational
    (Fraction) coordinates, so every simple polygon pair — including
    irrational near-degenerate stars — must ANSWER, and the identities
    must hold up to the float round-off of the OUTPUT vertices (the
    only inexact step left)."""
    inter, diff = intersection_wkt(wa, wb), difference_wkt(wa, wb)
    assert inter is not None and diff is not None
    tol = 1e-9 * max(1.0, _area(wa))
    assert abs(_area(inter) + _area(diff) - _area(wa)) < tol
    assert abs(_area(intersection_wkt(wb, wa)) - _area(inter)) < tol
    assert abs(_area(intersection_wkt(wa, wa)) - _area(wa)) < tol
    assert difference_wkt(wa, wa) == "POLYGON EMPTY"


@settings(max_examples=100, deadline=None)
@given(_holed_star(), _star_poly())
def test_holed_polygon_overlay_identities(wa, wb):
    """Holed polygons against arbitrary star polygons."""
    _overlay_identities(wa, wb)
    # the holed area is outer minus hole: scaled copy has 0.16x area
    ga = G.parse_wkt(wa)
    outer_only = G.Geometry("Polygon", [ga.coords[0]])
    assert abs(_area(wa) - G.area(outer_only) * (1 - 0.16)) < 1e-6 * max(1.0, _area(wa))


@settings(max_examples=150, deadline=None)
@given(_star_poly(), _star_poly())
def test_simple_polygon_overlay_identities(wa, wb):
    """Arbitrary simple (star-shaped, mostly non-convex) polygon pairs
    resolve through the face overlay."""
    _overlay_identities(wa, wb)


def test_star_overlay_answers_most_inputs():
    """The NULL escape is for non-simple rings only: every ring here is
    star-shaped about its centre, hence simple, so every one of the 39
    deterministic star pairs must answer (non-NULL)."""
    import math as m

    stars = []
    for seed in range(40):
        n = 4 + seed % 5
        radii = [2 + (seed * 7 + k * 3) % 5 for k in range(n)]
        ring = [
            (r * m.cos(2 * m.pi * k / n) + seed % 3, r * m.sin(2 * m.pi * k / n))
            for k, r in enumerate(radii)
        ]
        ring.append(ring[0])
        stars.append(G.to_wkt(G.Geometry("Polygon", [ring])))
    answered = sum(
        intersection_wkt(stars[i], stars[i + 1]) is not None for i in range(39)
    )
    assert answered == 39, answered


@settings(max_examples=200, deadline=None)
@given(_convex_poly(), _convex_poly())
def test_convex_difference_complement_identity(wa, wb):
    """area(a−b) + area(a∩b) = area(a) for arbitrary convex pairs, and
    a−a is empty."""
    if wa is None or wb is None:
        return
    assert difference_wkt(wa, wa) == "POLYGON EMPTY"
    inter, diff = intersection_wkt(wa, wb), difference_wkt(wa, wb)
    assert inter is not None and diff is not None
    assert abs(_area(diff) + _area(inter) - _area(wa)) < 1e-6
    # subtracting something disjoint keeps the full area
    assert _area(difference_wkt(wa, "POLYGON ((900 900, 910 900, 905 910, 900 900))")) == _area(wa)


@settings(max_examples=200, deadline=None)
@given(_convex_poly(), _convex_poly())
def test_convex_intersection_properties(wa, wb):
    """Convex∩convex: symmetric area, bounded by both inputs, idempotent
    on self, and every output vertex lies in both closures."""
    if wa is None or wb is None:
        return
    assert _area(intersection_wkt(wa, wa)) == _area(wa)
    inter = intersection_wkt(wa, wb)
    assert inter is not None
    ia = _area(inter)
    assert ia <= min(_area(wa), _area(wb)) + 1e-9
    assert abs(_area(intersection_wkt(wb, wa)) - ia) < 1e-9
    if not inter.endswith("EMPTY"):
        gi = G.parse_wkt(inter)
        ga, gb = G.parse_wkt(wa), G.parse_wkt(wb)
        for x, y in _vertices_of(gi):
            # clip vertices carry ≤1-ulp FP error off the true boundary
            # point, so membership is asserted within 1e-9
            pt = G.Geometry("Point", (x, y))
            assert G.distance(pt, ga) <= 1e-9
            assert G.distance(pt, gb) <= 1e-9


def _vertices_of(g):
    """All vertex tuples of any geometry kind (r8: touching convex
    pairs return LINESTRING/POINT contact, not just polygons)."""
    if g.kind == "Point":
        return [g.coords]
    if g.kind in ("LineString", "MultiPoint"):
        return list(g.coords)
    if g.kind in ("Polygon", "MultiLineString"):
        return [p for seq in g.coords for p in seq]
    if g.kind == "MultiPolygon":
        return [p for poly in g.coords for ring in poly for p in ring]
    return [p for sub in g.coords for p in _vertices_of(sub)]


# ---------------------------------------------------------------------------
# SQL surface + driver row
# ---------------------------------------------------------------------------


class TestSqlSurface:
    def test_st_intersection_sql(self, spark):
        register_all(spark)
        row = spark.sql(
            "SELECT st_area(st_intersection("
            "'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', "
            "'POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))')) AS a, "
            "st_area(st_difference("
            "'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', "
            "'POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))')) AS d"
        ).collect()[0]
        assert row.a == 25.0
        assert row.d == 75.0

    def test_null_propagates(self, spark):
        register_all(spark)
        row = spark.sql(
            "SELECT st_intersection(NULL, 'POINT (0 0)') AS i, "
            "st_difference('POINT (0 0)', NULL) AS d"
        ).collect()[0]
        assert row.i is None and row.d is None


class TestQ139:
    def test_oracle_parity(self, spark, oracle):
        load_all()
        q = QUERIES["q139_st_intersection"]
        assert_parity(q.fn(spark, SF_DIR), oracle, q.oracle, "q139")

    def test_plan_broadcasts_box_join(self, spark):
        load_all()
        plan = (
            QUERIES["q139_st_intersection"]
            .fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# line-overlay property fuzz (r8): exact 1-D measure identities on random
# integer segments — heavy collinear/touch/containment incidence by
# construction (coordinates in [-3, 3])
# ---------------------------------------------------------------------------


def _seg_wkt(s):
    (x0, y0), (x1, y1) = s
    return f"LINESTRING ({x0} {y0}, {x1} {y1})"


def _t_measure(wkt: str, origin, direction) -> object:
    """Total length of ``wkt``'s 1-D pieces in t-units of ``direction``
    (exact Fractions; Point/empty pieces contribute 0). Pieces must be
    collinear with the reference line — asserted."""
    from fractions import Fraction

    if wkt is None or wkt.endswith("EMPTY"):
        return Fraction(0)
    g = G.parse_wkt(wkt)
    parts = list(_flatten_gc(g))
    total = Fraction(0)
    ox, oy = origin
    dx, dy = direction
    ax = 0 if abs(dx) >= abs(dy) else 1
    d_ax = Fraction(direction[ax])
    for p in parts:
        if p.kind == "Point":
            continue
        assert p.kind == "LineString"
        for (ux, uy), (vx, vy) in zip(p.coords, p.coords[1:]):
            # collinearity with the reference line
            assert (Fraction(ux) - ox) * dy == (Fraction(uy) - oy) * dx
            assert (Fraction(vx) - ox) * dy == (Fraction(vy) - oy) * dx
            tu = (Fraction((ux, uy)[ax]) - Fraction(origin[ax])) / d_ax
            tv = (Fraction((vx, vy)[ax]) - Fraction(origin[ax])) / d_ax
            total += abs(tv - tu)
    return total


def _flatten_gc(g):
    if g.kind == "GeometryCollection":
        for sub in g.coords:
            yield from _flatten_gc(sub)
    elif g.kind == "MultiLineString":
        for c in g.coords:
            yield Geometry("LineString", c)
    elif g.kind == "MultiPoint":
        for c in g.coords:
            yield Geometry("Point", c)
    else:
        yield g


_int_segment = (
    st.tuples(
        st.tuples(st.integers(-3, 3), st.integers(-3, 3)),
        st.tuples(st.integers(-3, 3), st.integers(-3, 3)),
    )
    .filter(lambda s: s[0] != s[1])
)


@settings(max_examples=300, deadline=None)
@given(_int_segment, _int_segment)
def test_line_overlay_measure_identities(sa, sb):
    """closure-measure identities, exact in t-units of segment a:
    |a∩b| + |a−b| = |a|  and  |aΔb| restricted to a's line = |a−b|."""
    from fractions import Fraction

    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (
        symdifference_wkt,
    )

    wa, wb = _seg_wkt(sa), _seg_wkt(sb)
    (ax0, ay0), (ax1, ay1) = sa
    origin, direction = sa[0], (ax1 - ax0, ay1 - ay0)

    inter = intersection_wkt(wa, wb)
    diff = difference_wkt(wa, wb)
    assert inter is not None and diff is not None  # class is closed now

    m_inter = _t_measure(inter, origin, direction)
    m_diff = _t_measure(diff, origin, direction)
    m_a = Fraction(1)  # |a| in its own t-units
    assert m_inter + m_diff == m_a, (wa, wb, inter, diff)

    # intersection commutes as a point set: same measure from b's frame
    inter_ba = intersection_wkt(wb, wa)
    (bx0, by0), (bx1, by1) = sb
    m_ab_in_b = _t_measure(inter, sb[0], (bx1 - bx0, by1 - by0))
    m_ba_in_b = _t_measure(inter_ba, sb[0], (bx1 - bx0, by1 - by0))
    assert m_ab_in_b == m_ba_in_b, (wa, wb, inter, inter_ba)

    # symdifference measure along a's line equals |a−b| there
    sym = symdifference_wkt(wa, wb)
    assert sym is not None
    # pieces of b−a off a's line are excluded by measuring only pieces
    # collinear with a — so filter by collinearity instead of asserting
    sym_on_a = Fraction(0)
    dx, dy = direction
    for p in _flatten_gc(G.parse_wkt(sym)) if not sym.endswith("EMPTY") else []:
        if p.kind != "LineString":
            continue
        (ux, uy), (vx, vy) = p.coords[0], p.coords[-1]
        if (Fraction(ux) - origin[0]) * dy == (Fraction(uy) - origin[1]) * dx and (
            Fraction(vx) - origin[0]
        ) * dy == (Fraction(vy) - origin[1]) * dx:
            sym_on_a += _t_measure(
                "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in p.coords) + ")",
                origin,
                direction,
            )
    if not _collinear_segs(sa, sb):
        assert sym_on_a == m_diff, (wa, wb, sym, diff)


def _collinear_segs(sa, sb):
    (ax0, ay0), (ax1, ay1) = sa
    (bx0, by0), (bx1, by1) = sb
    dx, dy = ax1 - ax0, ay1 - ay0
    return (
        dx * (by1 - by0) - dy * (bx1 - bx0) == 0
        and (bx0 - ax0) * dy == (by0 - ay0) * dx
    )


@settings(max_examples=200, deadline=None)
@given(
    st.integers(-5, 5), st.integers(-5, 5),
    st.integers(1, 5), st.integers(1, 5),
    st.integers(-4, 4), st.integers(1, 5),
    st.booleans(),
)
def test_touching_rects_return_shared_boundary(x0, y0, w, h, off, ext, vertical):
    """r8 boundary-contact path: two rectangles sharing (part of) an
    edge intersect in exactly the shared closed segment — or the corner
    point when the 1-D extents only touch; disjoint extents give EMPTY."""
    ax0, ay0, ax1, ay1 = x0, y0, x0 + w, y0 + h
    if vertical:
        # B sits to the right of A, sharing the x = ax1 line
        bx0, by0, bx1, by1 = ax1, y0 + off, ax1 + 2, y0 + off + ext
        lo, hi = max(ay0, by0), min(ay1, by1)
        expect_pts = [(ax1, lo), (ax1, hi)]
    else:
        # B sits above A, sharing the y = ay1 line
        bx0, by0, bx1, by1 = x0 + off, ay1, x0 + off + ext, ay1 + 2
        lo, hi = max(ax0, bx0), min(ax1, bx1)
        expect_pts = [(lo, ay1), (hi, ay1)]
    wa = f"POLYGON (({ax0} {ay0}, {ax1} {ay0}, {ax1} {ay1}, {ax0} {ay1}, {ax0} {ay0}))"
    wb = f"POLYGON (({bx0} {by0}, {bx1} {by0}, {bx1} {by1}, {bx0} {by1}, {bx0} {by0}))"
    got = intersection_wkt(wa, wb)
    if lo > hi:
        assert got == "POLYGON EMPTY"
    elif lo == hi:
        (px, py) = expect_pts[0]
        assert got == f"POINT ({px} {py})"
    else:
        (p0x, p0y), (p1x, p1y) = expect_pts
        # one maximal span on the shared line, either direction
        assert got in (
            f"LINESTRING ({p0x} {p0y}, {p1x} {p1y})",
            f"LINESTRING ({p1x} {p1y}, {p0x} {p0y})",
        ), (wa, wb, got)
    # and symmetric
    assert intersection_wkt(wb, wa) == got or (
        got.startswith("LINESTRING") and intersection_wkt(wb, wa).startswith("LINESTRING")
    )


@settings(max_examples=200, deadline=None)
@given(_int_rects(), _int_rects())
def test_rectilinear_symdifference_matches_bruteforce(ra, rb):
    """aΔb over arbitrary rectilinear unions equals the unit-cell XOR
    truth, commutes, and satisfies inclusion–exclusion (r8)."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (
        symdifference_wkt,
    )

    ga = U.union_geoms([G.Geometry.box(*r) for r in ra])
    gb = U.union_geoms([G.Geometry.box(*r) for r in rb])
    wa, wb = G.to_wkt(ga), G.to_wkt(gb)
    ca, cb = _cells(ra), _cells(rb)
    sym = symdifference_wkt(wa, wb)
    assert sym is not None
    assert _area(sym) == float(len(ca ^ cb)), (wa, wb, sym)
    assert _area(symdifference_wkt(wb, wa)) == _area(sym)
    assert _area(sym) == _area(wa) + _area(wb) - 2 * _area(intersection_wkt(wa, wb))


class TestBoundaryContactShapes:
    """Second-review findings (r8): covered members subsumed, contact
    chains merged into maximal linework, contact scoped per pair."""

    def test_multipart_corner_touch_subsumed_by_area_piece(self):
        got = intersection_wkt(
            "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), "
            "((10 10, 20 10, 20 20, 10 20, 10 10)))",
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        )
        # the sibling part's corner touch at (10,10) is covered by the
        # 2-D piece: PostGIS returns just the polygon
        assert got == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"

    def test_hole_contact_is_one_closed_ring(self):
        got = intersection_wkt(
            "POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0), "
            "(10 10, 10 20, 20 20, 20 10, 10 10))",
            "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))",
        )
        assert got == "LINESTRING (10 10, 10 20, 20 20, 20 10, 10 10)"

    def test_l_contact_is_one_open_chain(self):
        got = intersection_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
            "POLYGON ((10 0, 20 0, 20 20, 0 20, 0 10, 10 10, 10 0))",
        )
        assert got == "LINESTRING (10 0, 10 10, 0 10)"

    def test_line_input_overlays_stay_noded(self):
        # GEOS does NOT linemerge line-input results: perpendicular
        # touching lines symdifference to two pieces, not one chain
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (
            symdifference_wkt,
        )

        assert (
            symdifference_wkt("LINESTRING (0 0, 0 1)", "LINESTRING (0 0, 1 0)")
            == "MULTILINESTRING ((0 0, 0 1), (0 0, 1 0))"
        )

    def test_affine_empty_is_canonical(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.affine import (
            translate_wkt,
        )

        assert translate_wkt("polygon  empty", 1.0, 1.0) == "POLYGON EMPTY"


class TestGeneralConcaveClass:
    """r12 (VERDICT r11 item 2): the kernels handle GENERAL concave
    simple polygons — including holed subjects — exactly; this pins the
    class the q139/q146 'concave'/'holed' oracle families now expose,
    with inclusion-exclusion identities over a deterministic star pool."""

    @staticmethod
    def _star(seed: int, nmin: int = 4, nmax: int = 9) -> str:
        import math as m

        n = nmin + seed % (nmax - nmin)
        radii = [2 + (seed * 7 + k * 3) % 6 for k in range(n)]
        cx, cy = seed % 5 - 2, (seed * 3) % 5 - 2
        ring = [
            (
                cx + r * m.cos(2 * m.pi * k / n),
                cy + r * m.sin(2 * m.pi * k / n),
            )
            for k, r in enumerate(radii)
        ]
        ring.append(ring[0])
        return G.to_wkt(G.Geometry("Polygon", [ring]))

    def test_concave_pairs_identities(self):
        answered = 0
        for seed in range(60):
            wa, wb = self._star(seed), self._star(seed + 101)
            i, i2 = intersection_wkt(wa, wb), intersection_wkt(wb, wa)
            d = difference_wkt(wa, wb)
            s, s2 = symdifference_wkt(wa, wb), symdifference_wkt(wb, wa)
            if None in (i, i2, d, s, s2):
                continue
            answered += 1
            ia, da, sa = _area(i), _area(d), _area(s)
            assert abs(ia + da - _area(wa)) < 1e-9, seed
            assert abs(ia - _area(i2)) < 1e-9, seed
            assert abs(sa - (_area(wa) + _area(wb) - 2 * ia)) < 1e-9, seed
            assert abs(sa - _area(s2)) < 1e-9, seed
        assert answered >= 55, answered

    def test_holed_subject_identities(self):
        # subject with a triangular hole strictly inside, clipped by a
        # concave star: identities must respect the hole exactly
        answered = 0
        for seed in range(30):
            outer = [(-8, -8), (8, -8), (8, 8), (-8, 8), (-8, -8)]
            h = seed % 3
            hole = [(h, 0), (h + 2, 0), (h + 1, 2), (h, 0)]
            wa = G.to_wkt(G.Geometry("Polygon", [outer, hole]))
            wb = self._star(seed + 17)
            i = intersection_wkt(wa, wb)
            d = difference_wkt(wa, wb)
            if None in (i, d):
                continue
            answered += 1
            assert abs(_area(i) + _area(d) - _area(wa)) < 1e-9, seed
        assert answered >= 27, answered


# ---------------------------------------------------------------------------
# face-overlay point-set fuzz: integer-grid polygon pairs with holes,
# shared edges, collinear overlaps, corner touches, containment,
# disjointness and two-part MultiPolygons
# ---------------------------------------------------------------------------


def _box_ring(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


@st.composite
def _grid_polygon(draw):
    """Integer-grid areal geometry (rings as lists of int tuples): a
    box, a triangle, a notched (concave) box, a holed box, or a
    two-part MultiPolygon of disjoint boxes."""
    kind = draw(st.sampled_from(["box", "triangle", "notched", "holed", "multi"]))
    x0, y0 = draw(st.integers(0, 5)), draw(st.integers(0, 5))
    w, h = draw(st.integers(1, 4)), draw(st.integers(1, 4))
    if kind == "box":
        return [[_box_ring(x0, y0, x0 + w, y0 + h)]]
    if kind == "triangle":
        pts = draw(
            st.lists(
                st.tuples(st.integers(0, 8), st.integers(0, 8)),
                min_size=3, max_size=3, unique=True,
            ).filter(
                lambda p: (p[1][0] - p[0][0]) * (p[2][1] - p[0][1])
                != (p[1][1] - p[0][1]) * (p[2][0] - p[0][0])
            )
        )
        return [[pts + pts[:1]]]
    if kind == "notched":
        w, h = w + 1, h + 1
        xm = draw(st.integers(x0 + 1, x0 + w - 1))
        ym = draw(st.integers(y0 + 1, y0 + h - 1))
        return [[[(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (xm, ym), (x0, y0 + h), (x0, y0)]]]
    if kind == "holed":
        w, h = w + 2, h + 2
        hx0 = draw(st.integers(x0 + 1, x0 + w - 2))
        hy0 = draw(st.integers(y0 + 1, y0 + h - 2))
        hx1 = draw(st.integers(hx0 + 1, x0 + w - 1))
        hy1 = draw(st.integers(hy0 + 1, y0 + h - 1))
        return [[_box_ring(x0, y0, x0 + w, y0 + h), _box_ring(hx0, hy0, hx1, hy1)[::-1]]]
    gap = draw(st.integers(1, 2))
    x2 = x0 + w + gap
    y2 = draw(st.integers(0, 5))
    w2, h2 = draw(st.integers(1, 3)), draw(st.integers(1, 3))
    return [[_box_ring(x0, y0, x0 + w, y0 + h)], [_box_ring(x2, y2, x2 + w2, y2 + h2)]]


@st.composite
def _grid_pair(draw):
    """(A, B) polygon lists; B is independent, identical to A, or A
    shifted by a small integer offset (forcing shared/collinear edges)."""
    a = draw(_grid_polygon())
    how = draw(st.sampled_from(["independent", "independent", "same", "shifted"]))
    if how == "independent":
        return a, draw(_grid_polygon())
    if how == "same":
        return a, a
    dx, dy = draw(st.integers(-2, 2)), draw(st.integers(-2, 2))
    return a, [[[(x + dx, y + dy) for x, y in r] for r in p] for p in a]


def _grid_wkt(polys) -> str:
    rings = [[[(float(x), float(y)) for x, y in r] for r in p] for p in polys]
    if len(rings) == 1:
        return G.to_wkt(Geometry("Polygon", rings[0]))
    return G.to_wkt(Geometry("MultiPolygon", rings))


def _areal_rings(wkt: str) -> list:
    return [] if wkt.endswith("EMPTY") else G._polys(G.parse_wkt(wkt))


def _in_areal(polys, pt) -> bool:
    """Point membership in polygons (the probes are off every input
    edge, hence off every result edge)."""
    return any(G._point_in_polygon(pt[0], pt[1], rings) for rings in polys)


_GRID_OPS = {
    "intersection": (intersection_wkt, lambda a, b: a and b),
    "difference": (difference_wkt, lambda a, b: a and not b),
    "symdifference": (symdifference_wkt, lambda a, b: a != b),
}


@settings(max_examples=150, deadline=None)
@given(_grid_pair())
def test_grid_overlay_membership_matches_set_operation(pair):
    """Every probe on the quarter-offset half-grid that is off the input
    edges lies in A op B iff the set operation holds for its membership
    in A and in B."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.relations import (
        _on_segment,
    )

    a, b = pair
    wa, wb = _grid_wkt(a), _grid_wkt(b)
    edges = [
        (p, q) for polys in (a, b) for poly in polys for r in poly for p, q in zip(r, r[1:])
    ]
    results = {op: fn(wa, wb) for op, (fn, _rule) in _GRID_OPS.items()}
    polys = {op: _areal_rings(got) for op, got in results.items()}
    pa, pb = _areal_rings(wa), _areal_rings(wb)
    for i in range(-6, 35):  # covers every vertex drawn by _grid_pair
        for j in range(-6, 35):
            pt = (i / 2 - 0.25, j / 2 - 0.25)
            if any(_on_segment(pt, p, q) for p, q in edges):
                continue
            in_a, in_b = _in_areal(pa, pt), _in_areal(pb, pt)
            for op, (_fn, rule) in _GRID_OPS.items():
                assert _in_areal(polys[op], pt) == rule(in_a, in_b), (op, wa, wb, pt, results[op])


@settings(max_examples=150, deadline=None)
@given(_grid_pair())
def test_grid_overlay_area_identities(pair):
    """area(A∩B) + area(A−B) = area(A), A∩B commutes in area, and
    area(AΔB) = area(A) + area(B) − 2·area(A∩B)."""
    wa, wb = _grid_wkt(pair[0]), _grid_wkt(pair[1])
    inter, diff, sym = intersection_wkt(wa, wb), difference_wkt(wa, wb), symdifference_wkt(wa, wb)
    assert None not in (inter, diff, sym)
    assert abs(_area(inter) + _area(diff) - _area(wa)) < 1e-9
    assert abs(_area(intersection_wkt(wb, wa)) - _area(inter)) < 1e-9
    assert abs(_area(sym) - (_area(wa) + _area(wb) - 2 * _area(inter))) < 1e-9


@settings(max_examples=150, deadline=None)
@given(_grid_pair())
def test_grid_overlay_results_are_valid(pair):
    """Every ∩, − and Δ result is OGC-valid: one dissolved polygon per
    connected region, no seams, no stacked parts."""
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.validity import (
        isvalid_wkt,
    )

    wa, wb = _grid_wkt(pair[0]), _grid_wkt(pair[1])
    for op, (fn, _rule) in _GRID_OPS.items():
        got = fn(wa, wb)
        assert isvalid_wkt(got) is True, (op, wa, wb, got)


def test_square_minus_triangle_is_one_valid_polygon():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.validity import (
        isvalid_wkt,
    )

    got = difference_wkt(BOX, "POLYGON ((0 0, 10 0, 5 5, 0 0))")
    assert got == "POLYGON ((0 0, 5 5, 10 0, 10 10, 0 10, 0 0))"
    assert isvalid_wkt(got) is True
