"""ST_Buffer (functions/buffer.py): closed-form Minkowski identities,
grid-sampled point-set parity against the Euclidean definition, and the
NULL/EMPTY surface contract.

Reference parity target: F12 (reference src/index.ts:44-63 forwards
ST_Buffer to PostGIS). The closed forms below are the standard
Minkowski-sum identities for the inscribed n-gon K (n = 32):

  area(P ⊕ K) = A(P) + r·perimeter(P) + (convex corner sectors)
                − (reflex corner overlaps)

specialized to axis-aligned fixtures where the n-gon's axis support is
exactly r (n divisible by 4), so every term is closed-form.
"""

from __future__ import annotations

import math

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import geometry as G
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.buffer import buffer_wkt
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.geometry import Geometry
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.validity import isvalid_wkt


def _area(w: str) -> float:
    return G.area(G.parse_wkt(w))


def _ngon_area(r: float, n: int = 32) -> float:
    return 0.5 * n * r * r * math.sin(2 * math.pi / n)


class TestClosedFormAreas:
    def test_point_disk_unchanged(self):
        # q53's pinned identity: the point path is byte-identical pre/post r9
        r = 2.0
        w = buffer_wkt("POINT (3 4)", r)
        assert abs(_area(w) - _ngon_area(r)) < 1e-12
        g = G.parse_wkt(w)
        assert g.kind == "Polygon" and len(g.coords[0]) == 33
        x, y = 3.0, 4.0
        expect = [
            (x + r * math.cos(2 * math.pi * i / 32), y + r * math.sin(2 * math.pi * i / 32))
            for i in range(32)
        ]
        assert list(g.coords[0][:-1]) == expect

    def test_axis_segment_stadium(self):
        r = 2.0
        w = buffer_wkt("LINESTRING (0 0, 10 0)", r)
        assert G.parse_wkt(w).kind == "Polygon"  # convex: one clean ring
        assert abs(_area(w) - (2 * 10 * r + _ngon_area(r))) < 1e-9
        w = buffer_wkt("LINESTRING (5 -3, 5 9)", r)  # vertical, L=12
        assert abs(_area(w) - (2 * 12 * r + _ngon_area(r))) < 1e-9

    def test_diagonal_segment_stadium(self):
        # 45°: the n-gon has vertices at ±perpendicular too (n % 8 == 0),
        # so the support width is exactly r and the closed form holds
        r, L = 2.0, 5 * math.sqrt(2)
        w = buffer_wkt("LINESTRING (0 0, 5 5)", r)
        assert abs(_area(w) - (2 * L * r + _ngon_area(r))) < 1e-9

    def test_convex_rect_minkowski(self):
        r = 2.0
        w = buffer_wkt("POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))", r)
        g = G.parse_wkt(w)
        assert g.kind == "Polygon"  # convex fast path: one clean ring
        assert abs(_area(w) - (60 + r * 32 + _ngon_area(r))) < 1e-9

    def test_lshape_reflex_corner(self):
        # A=300, perimeter=80, 5 convex + 1 reflex corner
        r = 2.0
        w = buffer_wkt(
            "POLYGON ((0 0, 20 0, 20 10, 10 10, 10 20, 0 20, 0 0))", r
        )
        exp = 300 + r * 80 + 5 * _ngon_area(r) / 4 - r * r
        assert abs(_area(w) - exp) < 1e-9

    def test_closed_ring_line_annulus(self):
        # boundary of a 10x6 rect as a closed LINESTRING: ribbon area =
        # outer expansion (perim*r + ngon) + inner coverage
        # (wh - (w-2r)(h-2r)); the middle stays uncovered (implicit hole
        # in the seamed MultiPolygon representation)
        r = 2.0
        w = buffer_wkt("LINESTRING (0 0, 10 0, 10 6, 0 6, 0 0)", r)
        exp = 32 * r + _ngon_area(r) + 60 - (10 - 2 * r) * (6 - 2 * r)
        assert abs(_area(w) - exp) < 1e-9
        # the hole is real: the rect center is NOT covered
        center = Geometry("Point", (5.0, 3.0))
        assert not G.within(center, G.parse_wkt(w))

    def test_holed_polygon_hole_shrinks(self):
        r = 1.0
        w = buffer_wkt(
            "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0),"
            " (6 6, 14 6, 14 14, 6 14, 6 6))",
            r,
        )
        # outer grows by perim*r + ngon; hole shrinks to (8-2r)^2
        exp = 400 + 80 * r + _ngon_area(r) - (8 - 2 * r) ** 2
        assert abs(_area(w) - exp) < 1e-9
        assert not G.within(Geometry("Point", (10.0, 10.0)), G.parse_wkt(w))
        # one dissolved, OGC-valid polygon with its shrunk hole
        assert G.parse_wkt(w).kind == "Polygon" and len(G.parse_wkt(w).coords) == 2
        assert isvalid_wkt(w)

    def test_negative_buffer_erosion(self):
        r = 2.0
        w = buffer_wkt("POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))", -r)
        assert abs(_area(w) - (10 - 2 * r) * (6 - 2 * r)) < 1e-9
        assert w == "POLYGON ((2 2, 8 2, 8 4, 2 4, 2 2))"  # dissolved, no seams
        # erode past the core -> EMPTY
        assert buffer_wkt("POLYGON ((0 0, 10 0, 10 6, 0 6, 0 0))", -3.0) == "POLYGON EMPTY"
        assert buffer_wkt("LINESTRING (0 0, 5 5)", -1.0) == "POLYGON EMPTY"
        assert buffer_wkt("POINT (1 1)", -1.0) == "POLYGON EMPTY"

    def test_zero_distance(self):
        p = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
        assert buffer_wkt(p, 0.0) == p
        assert buffer_wkt("LINESTRING (0 0, 1 1)", 0.0) == "POLYGON EMPTY"
        assert buffer_wkt("POINT (0 0)", 0.0) == "POLYGON EMPTY"

    def test_multipart_inputs(self):
        r = 1.0
        # two far-apart points: two disjoint disks
        w = buffer_wkt("MULTIPOINT (0 0, 100 0)", r)
        assert abs(_area(w) - 2 * _ngon_area(r)) < 1e-9
        assert G.parse_wkt(w).kind == "MultiPolygon"
        # overlapping disks dissolve (no double count)
        w = buffer_wkt("MULTIPOINT (0 0, 1 0)", r)
        assert _area(w) < 2 * _ngon_area(r) - 0.5
        assert _area(w) > _ngon_area(r) + 1.0

    def test_surface_contract(self):
        assert buffer_wkt(None, 1.0) is None
        assert buffer_wkt("POINT (0 0)", None) is None
        assert buffer_wkt("POINT (0 0)", float("nan")) is None
        assert buffer_wkt("junk ((", 1.0) is None
        assert buffer_wkt("POLYGON EMPTY", 1.0) == "POLYGON EMPTY"
        assert buffer_wkt("LINESTRING EMPTY", 1.0) == "POLYGON EMPTY"
        # self-intersecting ring: loud NULL, never a wrong geometry
        assert buffer_wkt("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))", 1.0) is None

    def test_zero_distance_repairs_via_makevalid(self):
        # r11 (VERDICT r10 item 4): buffer(0) routes through the
        # linework makevalid — the bowtie repairs to its two unit
        # triangles instead of the r10 loud NULL (GEOS leaves buffer(0)
        # of invalid input undefined; a repair is the PostGIS use-case)
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            geometry as G,
        )

        w = buffer_wkt("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))", 0.0)
        assert w.startswith("MULTIPOLYGON")
        assert abs(G.area(G.parse_wkt(w)) - 2.0) < 1e-12
        bowtie_mp = "MULTIPOLYGON (((0 0, 2 2, 2 0, 0 2, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"
        w = buffer_wkt(bowtie_mp, 0.0)
        assert abs(G.area(G.parse_wkt(w)) - 3.0) < 1e-12
        # valid input still echoes verbatim
        box = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
        assert buffer_wkt(box, 0.0) == box
        # outside the exact classes: still loud NULL
        assert (
            buffer_wkt(
                "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (6 2, 12 4, 6 6, 6 2))", 0.0
            )
            is None
        )

    def test_nonfinite_coordinates_are_null(self):
        # point / short-line fast paths skip Fraction coercion, so they
        # need their own finiteness gate (ADVICE r9 #4)
        assert buffer_wkt("POINT (nan nan)", 1.0) is None
        assert buffer_wkt("POINT (inf 0)", 1.0) is None
        assert buffer_wkt("LINESTRING (0 0, inf 1)", 1.0) is None
        assert buffer_wkt("LINESTRING (nan 0, 1 1, 2 0)", 1.0) is None
        assert buffer_wkt("MULTIPOINT (0 0, nan 1)", 1.0) is None
        assert buffer_wkt("POINT (nan nan)", 0.0) is None
        assert buffer_wkt("POINT (nan nan)", -1.0) is None

    def test_degenerate_lines(self):
        r = 2.0
        # out-and-back line: same point set as the single segment
        w = buffer_wkt("LINESTRING (0 0, 10 0, 0 0)", r)
        assert abs(_area(w) - (2 * 10 * r + _ngon_area(r))) < 1e-9
        # zero-length segment: degenerates to the endpoint disk
        w = buffer_wkt("LINESTRING (3 4, 3 4)", r)
        assert abs(_area(w) - _ngon_area(r)) < 1e-12
        assert buffer_wkt("POINT (1 1)", float("inf")) is None
        assert buffer_wkt("POINT (1 1)", float("-inf")) is None


class TestGridPointSetParity:
    """Independent check of the CONSTRUCTION, not the closed forms:
    sample a grid and compare membership in the built buffer against
    the Euclidean-distance definition. The inscribed n-gon under-covers
    a true disk by at most r·(1 − cos(π/n)), so grid points inside the
    margin band are excluded; everything else must agree exactly."""

    FIXTURES = [
        ("LINESTRING (0 0, 10 0, 10 10)", 2.0),  # right-angle polyline
        ("LINESTRING (0 0, 6 3, 2 8)", 2.0),  # oblique polyline
        ("POLYGON ((0 0, 20 0, 20 10, 10 10, 10 20, 0 20, 0 0))", 2.0),
        ("POLYGON ((0 0, 12 0, 12 12, 0 12, 0 0), (4 4, 8 4, 8 8, 4 8, 4 4))", 1.5),
        ("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((7 0, 11 0, 11 4, 7 4, 7 0)))", 2.5),
        ("LINESTRING (0 0, 10 0, 10 6, 0 6, 0 0)", 2.0),  # closed ring
        ("POLYGON ((0 0, 9 2, 12 9, 3 11, 0 0))", 2.0),  # non-convex-ish quad
    ]

    @pytest.mark.parametrize("wkt,r", FIXTURES)
    def test_grid_membership(self, wkt, r):
        out = buffer_wkt(wkt, r)
        assert out is not None and not out.endswith("EMPTY")
        buf = G.parse_wkt(out)
        g = G.parse_wkt(wkt)
        minx, miny, maxx, maxy = G.bbox(g)
        margin_lo = r * math.cos(math.pi / 32) * 0.999
        margin_hi = r * 1.001
        step = (maxx - minx + 2 * r + 2) / 23  # irregular: avoids seams
        checked = 0
        y = miny - r - 1 + 0.013
        while y < maxy + r + 1:
            x = minx - r - 1 + 0.017
            while x < maxx + r + 1:
                pt = Geometry("Point", (x, y))
                d = G.distance(pt, g)
                if d < margin_lo:
                    assert G.within(pt, buf), (x, y, d)
                    checked += 1
                elif d > margin_hi:
                    assert not G.within(pt, buf), (x, y, d)
                    checked += 1
                x += step
            y += step
        assert checked > 200  # the grid actually exercised both sides


class TestStyleParameters:
    """r14 buffer styles (VERDICT r13 item 4): flat/square endcaps and
    mitre/bevel joins are EXACT on axis-aligned fixtures — every area
    below is an integer closed form, not an n-gon approximation."""

    def _bs(self, w, d, style):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.buffer import (
            bufferstyle_wkt,
        )

        return bufferstyle_wkt(w, d, style)

    def test_flat_and_square_caps_exact(self):
        assert self._bs("LINESTRING (0 0, 10 0)", 2.0, "endcap=flat") == (
            "POLYGON ((0 -2, 10 -2, 10 2, 0 2, 0 -2))"
        )
        assert _area(self._bs("LINESTRING (0 0, 10 0)", 2.0, "endcap=square")) == 56.0

    def test_mitre_and_bevel_joins_exact(self):
        l_shape = "LINESTRING (0 0, 10 0, 10 10)"
        assert _area(self._bs(l_shape, 2.0, "endcap=flat join=mitre")) == 80.0
        assert _area(self._bs(l_shape, 2.0, "endcap=flat join=bevel")) == 78.0
        box = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        assert self._bs(box, 2.0, "join=mitre") == (
            "POLYGON ((-2 -2, 12 -2, 12 12, -2 12, -2 -2))"
        )
        assert _area(self._bs(box, 2.0, "join=bevel")) == 188.0

    def test_mitre_erosion_and_holes(self):
        box = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
        assert self._bs(box, -2.0, "join=mitre") == (
            "POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))"
        )
        holed = (
            "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0),"
            " (8 8, 12 8, 12 12, 8 12, 8 8))"
        )
        assert _area(self._bs(holed, 1.0, "join=mitre")) == 480.0

    def test_reflex_polygon_mitre(self):
        # L polygon: 5 convex 90° corners add d², the reflex corner is
        # covered by the rect union (no wedge on the interior side)
        l_poly = "POLYGON ((0 0, 10 0, 10 4, 4 4, 4 10, 0 10, 0 0))"
        assert _area(self._bs(l_poly, 1.0, "join=mitre")) == 108.0

    def test_sliver_mitre_wedge_does_not_poke_through(self):
        sliver = "POLYGON ((0 0, 100 0, 100 0.1, 0 0.1, 0 0))"
        assert _area(self._bs(sliver, 1.0, "join=mitre")) == pytest.approx(
            102 * 2.1
        )

    def test_limited_mitre_between_bevel_and_full(self):
        spike = "LINESTRING (0 0, 10 0, 0 1)"
        a_bev = _area(self._bs(spike, 1.0, "endcap=flat join=bevel"))
        a_lim = _area(self._bs(spike, 1.0, "endcap=flat join=mitre mitre_limit=2"))
        a_unl = _area(self._bs(spike, 1.0, "endcap=flat join=mitre mitre_limit=100"))
        assert a_bev < a_lim < a_unl

    def test_closed_line_gets_join_not_caps(self):
        ring = "LINESTRING (0 0, 10 0, 10 10, 0 10, 0 0)"
        assert _area(self._bs(ring, 2.0, "join=mitre")) == 160.0  # frame

    def test_point_caps(self):
        assert self._bs("POINT (3 4)", 2.0, "endcap=square") == (
            "POLYGON ((1 2, 5 2, 5 6, 1 6, 1 2))"
        )
        assert self._bs("POINT (3 4)", 2.0, "endcap=flat") == "POLYGON EMPTY"
        # butt is the GEOS alias for flat; miter for mitre
        assert self._bs("POINT (3 4)", 2.0, "endcap=butt") == "POLYGON EMPTY"
        assert _area(
            self._bs("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", 2.0, "join=miter")
        ) == 196.0

    def test_style_parse_gates(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.buffer import (
            parse_buffer_style,
        )

        assert parse_buffer_style("") == {
            "quad_segs": 8, "endcap": "round", "join": "round",
            "mitre_limit": 5.0, "side": "both",
        }
        assert parse_buffer_style("side=both") is not None
        assert parse_buffer_style("side=left")["side"] == "left"  # r14
        for bad in ("side=bogus", "junk", "endcap=banana", "join=", "quad_segs=x",
                    "mitre_limit=-1", "mitre_limit=nan"):
            assert parse_buffer_style(bad) is None, bad
        for bad in ("side=right", "endcap=banana"):
            # side=right on a POINT is the lineal-only loud NULL
            assert self._bs("POINT (0 0)", 1.0, bad) is None

    def test_round_style_matches_plain_buffer(self):
        for w in ("POINT (1 1)", "LINESTRING (0 0, 5 3)",
                  "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"):
            assert self._bs(w, 2.0, "") == buffer_wkt(w, 2.0)
            assert self._bs(w, 2.0, "quad_segs=8 endcap=round join=round") == (
                buffer_wkt(w, 2.0)
            )

    def test_null_and_empty_surface(self):
        assert self._bs(None, 1.0, "") is None
        assert self._bs("POINT (0 0)", None, "") is None
        assert self._bs("POINT (0 0)", 1.0, None) is None
        assert self._bs("POINT (0 0)", float("nan"), "") is None
        assert self._bs("POINT EMPTY", 1.0, "join=mitre") == "POLYGON EMPTY"
        assert self._bs("garbage", 1.0, "") is None


class TestStyleReviewR14:
    """code-review r14 findings pinned."""

    def _bs(self, w, d, style):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.buffer import (
            bufferstyle_wkt,
        )

        return bufferstyle_wkt(w, d, style)

    def test_degenerate_part_does_not_discard_siblings(self):
        r = self._bs(
            "MULTILINESTRING ((0 0, 0 0), (100 100, 110 100))", 2.0, "endcap=square"
        )
        assert _area(r) == 72.0  # 16 (point square) + 56 (extended rect)

    def test_erosion_mitre_wedge_does_not_cross_exterior_notch(self):
        # the clipped mitre wedge at the spike tip (9.5, 2) must not
        # reach across the exterior notch into the bottom arm
        w = "POLYGON ((0 0, 10 0, 10 1, 1 1, 1 5, 9 5, 9.5 2, 10 5, 10 6, 0 6, 0 0))"
        pt = Geometry("Point", (9.5, 0.6))  # > 0.3 from every boundary
        for style in ("join=mitre", "join=bevel", "join=round"):
            out = self._bs(w, -0.3, style)
            assert G.within(pt, G.parse_wkt(out)), style

    def test_repeated_vertices_dedup_before_offsets(self):
        r = self._bs(
            "POLYGON ((0 0, 0 0, 10 0, 10 10, 0 10, 0 0))", 2.0, "join=mitre"
        )
        assert _area(r) == 196.0  # the (0,0) corner square is present

    def test_quad_segs_work_bound(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.buffer import (
            parse_buffer_style,
        )

        assert parse_buffer_style("quad_segs=100000000") is None
        assert parse_buffer_style("quad_segs=0") is None
        assert parse_buffer_style("quad_segs=10000") is not None
        assert self._bs("POINT (0 0)", 1.0, "quad_segs=100000000") is None

    def test_holed_mitre_wedge_cannot_poke_through_shell(self):
        # hole 0.5 from the shell; shell-only base means no hole-ring
        # wedge exists to poke outside; area closed form still holds:
        # (21x11 grown) minus hole eroded to a point -> no hole left
        w = (
            "POLYGON ((0 0, 21 0, 21 11, 0 11, 0 0),"
            " (0.5 0.5, 20.5 0.5, 20.5 10.5, 0.5 10.5, 0.5 0.5))"
        )
        out = self._bs(w, 1.0, "join=mitre")
        # frame material is only 0.5 wide but the mitre buffer is well
        # defined: outer box grows to 23x13 (=299), the 20x10 hole
        # shrinks by 1 per side to 18x8 (=144) -> 155, and no hole-ring
        # wedge escapes past the shell
        assert _area(out) == 299.0 - 144.0


class TestSingleSidedBuffers:
    """r14: side=left/right (GEOS single-sided line buffers) — butt
    ends, join pieces only on the buffered side, exact on axis-parallel
    fixtures."""

    def _bs(self, w, d, style):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.buffer import (
            bufferstyle_wkt,
        )

        return bufferstyle_wkt(w, d, style)

    def test_straight_segment_exact_rect(self):
        assert self._bs("LINESTRING (0 0, 10 0)", 2.0, "side=left") == (
            "POLYGON ((0 0, 10 0, 10 2, 0 2, 0 0))"
        )
        assert self._bs("LINESTRING (0 0, 10 0)", 2.0, "side=right") == (
            "POLYGON ((0 -2, 10 -2, 10 0, 0 0, 0 -2))"
        )

    def test_turns_join_only_on_buffered_side(self):
        l_shape = "LINESTRING (0 0, 10 0, 10 10)"
        # left turn: the left slabs overlap (no wedge); the right side
        # needs the join piece
        assert _area(self._bs(l_shape, 2.0, "side=left join=mitre")) == 36.0
        assert _area(self._bs(l_shape, 2.0, "side=right join=mitre")) == 44.0
        assert _area(self._bs(l_shape, 2.0, "side=right join=bevel")) == 42.0

    def test_closed_ring_inside_and_outside_bands(self):
        ring = "LINESTRING (0 0, 10 0, 10 10, 0 10, 0 0)"  # CCW: left=inside
        assert _area(self._bs(ring, 2.0, "side=left join=mitre")) == 64.0
        assert _area(self._bs(ring, 2.0, "side=right join=mitre")) == 96.0

    def test_gates(self):
        assert self._bs("LINESTRING (0 0, 1 0)", -1.0, "side=left") is None
        assert self._bs("LINESTRING (0 0, 1 0)", 0.0, "side=left") is None
        assert self._bs("POINT (0 0)", 1.0, "side=left") is None
        assert self._bs("POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))", 1.0, "side=right") is None
        assert self._bs("LINESTRING (0 0, 1 0)", 1.0, "side=bogus") is None
        # multilines buffer per part
        r = self._bs("MULTILINESTRING ((0 0, 5 0), (0 3, 5 3))", 1.0, "side=left")
        assert _area(r) == 10.0


class TestSingleSidedReviewR14:
    """code-review r14 on the side= feature: round joins must be
    gap-side SECTORS (a full vertex disk spills onto the unbuffered
    side), and exact 180° reversals need the forward piece."""

    def _bs(self, w, d, style):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.buffer import (
            bufferstyle_wkt,
        )

        return bufferstyle_wkt(w, d, style)

    def test_round_join_is_sector_not_disk(self):
        r = self._bs("LINESTRING (0 0, 10 0, 10 10)", 2.0, "side=right")
        assert _area(r) == pytest.approx(40.0 + _ngon_area(2.0) / 4.0)
        # nothing strictly left of the path
        g = G.parse_wkt(r)
        for probe in [(5.0, 0.5), (9.0, 1.0), (8.59, 1.41), (9.61, 1.96)]:
            assert not G.within(Geometry("Point", probe), g), probe

    def test_reversal_vertex_forward_piece(self):
        # retraced line: the offset curve arcs the forward half-disk
        r = self._bs("LINESTRING (0 0, 10 0, 5 0)", 2.0, "side=left")
        assert _area(r) == pytest.approx(30.0 + _ngon_area(2.0) / 2.0)
        assert G.within(Geometry("Point", (11.5, 0.0)), G.parse_wkt(r))
        # two-sided flat endcaps get the same forward arc (the
        # pre-existing mirror of the defect)
        r = self._bs("LINESTRING (0 0, 10 0, 5 0)", 2.0, "endcap=flat")
        assert _area(r) == pytest.approx(40.0 + _ngon_area(2.0) / 2.0)
        # bevel leaves the flat cut; limited mitre adds the clip box
        assert _area(
            self._bs("LINESTRING (0 0, 10 0, 5 0)", 2.0, "side=left join=bevel")
        ) == 30.0
        assert _area(
            self._bs(
                "LINESTRING (0 0, 10 0, 5 0)", 2.0,
                "side=left join=mitre mitre_limit=2",
            )
        ) == 46.0
