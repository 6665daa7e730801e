"""SQL/MM 3-D surface suite (functions/surface3d.py, r15):
POLYHEDRALSURFACE / TIN / TRIANGLE codec, patch accessors, Newell
3-D area, divergence-theorem volume, mesh closedness, and the
filtered-exact ST_3DIntersects."""

from __future__ import annotations

import math
import random
from fractions import Fraction

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    accessors as A,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    surface3d as S,
)

CUBE = (
    "POLYHEDRALSURFACE Z ("
    "((0 0 0, 0 1 0, 1 1 0, 1 0 0, 0 0 0)), "
    "((0 0 1, 1 0 1, 1 1 1, 0 1 1, 0 0 1)), "
    "((0 0 0, 1 0 0, 1 0 1, 0 0 1, 0 0 0)), "
    "((1 0 0, 1 1 0, 1 1 1, 1 0 1, 1 0 0)), "
    "((1 1 0, 0 1 0, 0 1 1, 1 1 1, 1 1 0)), "
    "((0 1 0, 0 0 0, 0 0 1, 0 1 1, 0 1 0)))"
)


class TestCodec:
    def test_roundtrips_canonical(self):
        for w in [
            CUBE,
            "POLYHEDRALSURFACE (((0 0, 1 0, 1 1, 0 0)))",
            "TIN Z (((0 0 0, 1 0 0, 0 1 0, 0 0 0)), ((1 0 0, 1 1 0, 0 1 0, 1 0 0)))",
            "TRIANGLE Z ((0 0 0, 3 0 0, 0 4 0, 0 0 0))",
            "TRIANGLE ((0 0, 9 0, 0 9, 0 0))",
            "POLYHEDRALSURFACE Z EMPTY",
            "TIN EMPTY",
            "TRIANGLE EMPTY",
        ]:
            kind, has_z, patches = S.parse_surface_wkt(w)
            assert S.to_surface_wkt(kind, has_z, patches) == w

    def test_holes_parse(self):
        w = (
            "POLYHEDRALSURFACE Z (((0 0 0, 9 0 0, 9 9 0, 0 9 0, 0 0 0), "
            "(1 1 0, 2 1 0, 2 2 0, 1 1 0)))"
        )
        kind, has_z, patches = S.parse_surface_wkt(w)
        assert kind == "PolyhedralSurface" and len(patches[0]) == 2
        assert S.to_surface_wkt(kind, has_z, patches) == w

    def test_rejections(self):
        for w in [
            None,
            "POLYGON ((0 0, 1 0, 1 1, 0 0))",  # core parser's type
            # M / ZM with the WRONG width still reject (r17: the forms
            # themselves are in-codec now, VERDICT r16 task 4)
            "POLYHEDRALSURFACE M (((0 0, 1 0, 1 1, 0 0)))",
            "POLYHEDRALSURFACE ZM (((0 0 1, 1 0 1, 1 1 1, 0 0 1)))",
            "TIN Z (((0 0 0, 1 0 0, 0 1 0, 1 1 0, 0 0 0)))",  # 5-pt patch
            "TIN Z (((0 0 0, 1 0 0, 0 1 0, 0 0 0), (0 0 0, 1 0 0, 0 1 0, 0 0 0)))",
            "TRIANGLE Z (0 0 0, 3 0 0, 0 4 0, 0 0 0)",  # single parens
            "POLYHEDRALSURFACE Z (((0 0 0, 1 0 0, 1 1 0, 0 0 1)))",  # open ring
            "POLYHEDRALSURFACE Z (((0 0 0, 1 0 0, 0 0 0)))",  # 3-pt ring
            "POLYHEDRALSURFACE Z ((0 0 0, 1 0 0, 1 1 0, 0 0 0))",  # missing layer
            "POLYHEDRALSURFACE Z (((0 0 nan, 1 0 0, 1 1 0, 0 0 nan)))",
        ]:
            assert S.parse_surface_wkt(w) is None


class TestAreaVolume:
    def test_cube(self):
        assert S.area3d_wkt(CUBE) == 6.0
        assert S.volume_wkt(CUBE) == 1.0
        assert A.is_closed(CUBE) is True
        assert S.num_patches(CUBE) == 6

    def test_open_surface(self):
        open_s = "POLYHEDRALSURFACE Z (((0 0 0, 0 1 0, 1 1 0, 1 0 0, 0 0 0)))"
        assert A.is_closed(open_s) is False
        assert S.volume_wkt(open_s) is None
        assert S.area3d_wkt(open_s) == 1.0

    def test_scaled_box_volume(self):
        # 2 x 1 x 3 box: volume 6, area 2*(2*1 + 2*3 + 1*3) = 22
        box = (
            "POLYHEDRALSURFACE Z ("
            "((0 0 0, 0 1 0, 2 1 0, 2 0 0, 0 0 0)), "
            "((0 0 3, 2 0 3, 2 1 3, 0 1 3, 0 0 3)), "
            "((0 0 0, 2 0 0, 2 0 3, 0 0 3, 0 0 0)), "
            "((2 0 0, 2 1 0, 2 1 3, 2 0 3, 2 0 0)), "
            "((2 1 0, 0 1 0, 0 1 3, 2 1 3, 2 1 0)), "
            "((0 1 0, 0 0 0, 0 0 3, 0 1 3, 0 1 0)))"
        )
        assert S.volume_wkt(box) == 6.0
        assert S.area3d_wkt(box) == 22.0

    def test_tetrahedron_volume(self):
        # unit right tetra (0,0,0)(1,0,0)(0,1,0)(0,0,1): V = 1/6
        tet = (
            "TIN Z ("
            "((0 0 0, 0 1 0, 1 0 0, 0 0 0)), "
            "((0 0 0, 1 0 0, 0 0 1, 0 0 0)), "
            "((0 0 0, 0 0 1, 0 1 0, 0 0 0)), "
            "((1 0 0, 0 1 0, 0 0 1, 1 0 0)))"
        )
        assert A.is_closed(tet) is True
        assert abs(S.volume_wkt(tet) - 1.0 / 6.0) < 1e-15

    def test_volume_translation_invariant(self):
        # the signed-fan flux sum must not depend on the origin
        rng = random.Random(7)
        for _ in range(5):
            dx, dy, dz = (rng.randint(-50, 50) for _ in range(3))

            def sh(w, dx=dx, dy=dy, dz=dz):
                kind, has_z, patches = S.parse_surface_wkt(w)
                moved = [
                    [[(p[0] + dx, p[1] + dy, p[2] + dz) for p in r] for r in rings]
                    for rings in patches
                ]
                return S.to_surface_wkt(kind, has_z, moved)

            assert abs(S.volume_wkt(sh(CUBE)) - 1.0) < 1e-9

    def test_slanted_patch_area(self):
        # 3-4-5 wall: vertical rectangle 5 wide (3,4 direction), 2 tall
        w = "POLYGON Z ((0 0 0, 3 4 0, 3 4 2, 0 0 2, 0 0 0))"
        assert S.area3d_wkt(w) == 10.0

    def test_area_with_hole(self):
        w = (
            "POLYHEDRALSURFACE Z (((0 0 5, 9 0 5, 9 9 5, 0 9 5, 0 0 5), "
            "(1 1 5, 2 1 5, 2 2 5, 1 1 5)))"
        )
        assert S.area3d_wkt(w) == 81.0 - 0.5

    def test_2d_delegation(self):
        assert S.area3d_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))") == 4.0
        assert S.area3d_wkt("TRIANGLE ((0 0, 4 0, 0 4, 0 0))") == 8.0
        assert S.area3d_wkt("LINESTRING (0 0, 1 1)") is None
        assert S.area3d_wkt("junk") is None


class TestPatches:
    def test_patchn(self):
        assert S.patch_n(CUBE, 1) == "POLYGON Z ((0 0 0, 0 1 0, 1 1 0, 1 0 0, 0 0 0))"
        assert S.patch_n(CUBE, 6) == "POLYGON Z ((0 1 0, 0 0 0, 0 0 1, 0 1 1, 0 1 0))"
        assert S.patch_n(CUBE, 0) is None
        assert S.patch_n(CUBE, 7) is None
        tin = "TIN Z (((0 0 0, 1 0 0, 0 1 0, 0 0 0)))"
        assert S.patch_n(tin, 1) == "TRIANGLE Z ((0 0 0, 1 0 0, 0 1 0, 0 0 0))"
        assert S.num_patches("POLYGON ((0 0, 1 0, 1 1, 0 0))") is None

    def test_isclosed_delegates_lineal(self):
        assert A.is_closed("LINESTRING (0 0, 1 0, 1 1, 0 0)") is True
        assert A.is_closed("LINESTRING (0 0, 1 0, 1 1)") is False


class TestIntersects3D:
    def test_exact_crossing(self):
        a = "LINESTRING Z (0 0 0, 2 2 2)"
        assert S.intersects3d_wkt(a, "LINESTRING Z (2 0 0, 0 2 2)") is True
        assert S.intersects3d_wkt(a, "LINESTRING Z (2 0 1, 0 2 1)") is True
        # skew pair — closest approach > 0
        assert S.intersects3d_wkt(a, "LINESTRING Z (2 0 0, 0 2 1)") is False

    def test_point_cases(self):
        seg = "LINESTRING Z (0 0 0, 2 2 2)"
        assert S.intersects3d_wkt("POINT Z (1 1 1)", seg) is True
        assert S.intersects3d_wkt("POINT Z (1 1 1.0000001)", seg) is False
        assert S.intersects3d_wkt("POINT Z (1 1 1)", "POINT Z (1 1 1)") is True
        assert S.intersects3d_wkt("POINT Z (1 1 1)", "POINT Z (1 1 2)") is False

    def test_collinear_overlap(self):
        a = "LINESTRING Z (0 0 0, 4 4 4)"
        assert S.intersects3d_wkt(a, "LINESTRING Z (2 2 2, 6 6 6)") is True
        assert S.intersects3d_wkt(a, "LINESTRING Z (5 5 5, 6 6 6)") is False
        # touching endpoints only
        assert S.intersects3d_wkt(a, "LINESTRING Z (4 4 4, 9 9 9)") is True
        # parallel, offset
        assert S.intersects3d_wkt(a, "LINESTRING Z (0 0 1, 4 4 5)") is False

    def test_near_miss_is_exact_not_epsilon(self):
        # 1-ulp-ish vertical offsets around a true crossing must stay False
        a = "LINESTRING Z (0 0 0, 2 2 2)"
        for dz in (1e-12, -1e-12, 1e-9):
            b = f"LINESTRING Z (2 0 {1 + dz}, 0 2 {1 + dz})"
            assert S.intersects3d_wkt(a, b) is False, dz

    def test_mixed_dims_and_fences(self):
        assert S.intersects3d_wkt("LINESTRING (0 0, 2 2)", "POINT (1 1)") is True
        assert (
            S.intersects3d_wkt("POINT Z (0 0 0)", "POLYGON ((0 0, 1 0, 1 1, 0 0))")
            is None
        )
        assert S.intersects3d_wkt(None, "POINT Z (0 0 0)") is None
        assert S.intersects3d_wkt("junk", "POINT Z (0 0 0)") is None

    def test_fuzz_filter_agrees_with_exact(self):
        """300 random segment pairs: the FILTERED full path (float
        pre-filter + guard + exact fallback) must agree with the bare
        exact predicate run unconditionally — i.e. the float guard
        never settles a pair the exact algebra would decide the other
        way. Half the pairs are constructed to cross at an integer
        point so the guard's True side is exercised too."""
        rng = random.Random(42)

        def frac_oracle(p1, q1, p2, q2) -> bool:
            P1 = tuple(map(Fraction, p1))
            Q1 = tuple(map(Fraction, q1))
            P2 = tuple(map(Fraction, p2))
            Q2 = tuple(map(Fraction, q2))
            return S._seg_seg_exact(P1, Q1, P2, Q2)

        hits = 0
        for _ in range(300):
            if rng.random() < 0.5:
                # construct an exact crossing through an integer point
                c = tuple(rng.randint(-5, 5) for _ in range(3))
                d1 = tuple(rng.randint(-3, 3) for _ in range(3))
                d2 = tuple(rng.randint(-3, 3) for _ in range(3))
                p1 = tuple(c[i] - d1[i] for i in range(3))
                q1 = tuple(c[i] + d1[i] for i in range(3))
                p2 = tuple(c[i] - d2[i] for i in range(3))
                q2 = tuple(c[i] + d2[i] for i in range(3))
            else:
                p1, q1, p2, q2 = (
                    tuple(rng.randint(-6, 6) for _ in range(3)) for _ in range(4)
                )
            a = f"LINESTRING Z ({p1[0]} {p1[1]} {p1[2]}, {q1[0]} {q1[1]} {q1[2]})"
            b = f"LINESTRING Z ({p2[0]} {p2[1]} {p2[2]}, {q2[0]} {q2[1]} {q2[2]})"
            got = S.intersects3d_wkt(a, b)
            want = frac_oracle(p1, q1, p2, q2)
            if p1 == q1 or p2 == q2:
                continue  # degenerate builds exercise other paths
            assert got is want, (a, b)
            hits += int(want)
        assert hits > 50  # the crossing constructor really fires

    def test_budget_fence(self):
        n = 400  # ~800 prim-weight per side → na*nb ≈ 640k > 250k exact budget
        big = "LINESTRING Z (" + ", ".join(f"{i} 0 0" for i in range(n)) + ")"
        near = "LINESTRING Z (" + ", ".join(f"{i} 1e-9 0" for i in range(n)) + ")"
        # float kernel sees ~1e-9 < guard*scale → exact path → budget NULL
        assert S.intersects3d_wkt(big, near) is None
        far = "LINESTRING Z (" + ", ".join(f"{i} 500 0" for i in range(n)) + ")"
        assert S.intersects3d_wkt(big, far) is False  # float filter settles


class TestVolumeOrientationFreedom:
    def test_reversed_patch_still_closed_and_same_volume(self):
        # closedness counts undirected edges; |volume| is orientation-free
        kind, has_z, patches = S.parse_surface_wkt(CUBE)
        patches = [[list(reversed(r)) for r in rings] for rings in patches]
        w = S.to_surface_wkt(kind, has_z, patches)
        assert A.is_closed(w) is True
        assert S.volume_wkt(w) == 1.0


class TestVolumeOrientationGate:
    def test_one_flipped_face_is_loud(self):
        """code-review r15: a mesh that is edge-watertight but mixes
        windings passed surface_is_closed yet corrupted the flux sum —
        ST_Volume must refuse it loudly, while ST_IsClosed (pure
        watertightness) still answers True."""
        kind, has_z, patches = S.parse_surface_wkt(CUBE)
        flipped = [list(map(list, rings)) for rings in patches]
        flipped[1] = [list(reversed(flipped[1][0]))]
        w = S.to_surface_wkt(kind, has_z, flipped)
        assert A.is_closed(w) is True  # undirected edges still pair
        assert S.volume_wkt(w) is None  # mixed winding — loud
        assert S.volume_wkt(CUBE) == 1.0  # the consistent mesh still answers


class TestDimsClosureMZm:
    """M / ZM surfaces (r17, VERDICT r16 task 4): the last dimensional
    loud-NULL tier retired — parse/echo, WKB ISO 2015/3015-class codes,
    zmflag/ndims, and geometry-with-z=0-for-M semantics."""

    CASES = [
        ("TIN M (((0 0 1, 1 0 2, 0 1 3, 0 0 1)))", 2016, 1, 3),
        ("TIN ZM (((0 0 5 1, 1 0 5 2, 0 1 5 3, 0 0 5 1)))", 3016, 3, 4),
        ("POLYHEDRALSURFACE M (((0 0 7, 1 0 7, 1 1 7, 0 1 7, 0 0 7)))", 2015, 1, 3),
        (
            "POLYHEDRALSURFACE ZM (((0 0 0 7, 1 0 0 7, 1 1 0 7, 0 1 0 7, 0 0 0 7)))",
            3015, 3, 4,
        ),
        ("TRIANGLE M ((0 0 1, 4 0 2, 0 3 3, 0 0 1))", 2017, 1, 3),
        ("TRIANGLE ZM ((0 0 9 1, 4 0 9 2, 0 3 9 3, 0 0 9 1))", 3017, 3, 4),
    ]

    def test_roundtrip_and_wkb_codes(self):
        import struct

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            wkb as W,
        )

        for w, code, _zf, _nd in self.CASES:
            ps = S.parse_surface_wkt(w)
            assert ps is not None and S.to_surface_wkt(*ps) == w
            b = W.wkt_to_wkb(w)
            assert struct.unpack_from("<I", b, 1)[0] == code
            assert W.wkb_to_wkt(b) == w
            # EWKB carries the SRID over the same body
            eb = W.wkt_to_ewkb(w, 4326)
            assert W.ewkb_srid(eb) == 4326

    def test_zmflag_and_ndims(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            measure_m as M,
        )
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            zcoord as Z,
        )

        for w, _code, zf, nd in self.CASES:
            assert M.zmflag_of(w) == zf, w
            assert Z.ndims_of(w) == nd, w
        assert M.zmflag_of("TRIANGLE ((0 0, 4 0, 0 3, 0 0))") == 0
        assert M.zmflag_of("TRIANGLE Z ((0 0 1, 4 0 1, 0 3 1, 0 0 1))") == 2

    def test_m_geometry_uses_z_zero(self):
        # M is a measure, not a height: the M triangle's area is its
        # 2-D area even though the third slot varies
        assert S.area3d_wkt("TRIANGLE M ((0 0 1, 4 0 200, 0 3 -7, 0 0 1))") == 6.0
        # ZM uses the REAL z (slot 3): a tilted triangle's area grows
        zm = S.area3d_wkt("TRIANGLE ZM ((0 0 0 1, 4 0 0 2, 0 3 3 3, 0 0 0 1))")
        assert zm > 6.0
        # an M "pillow" (two coplanar squares, opposite winding) is a
        # closed degenerate mesh of volume 0 — M never fakes a height
        sq = "(0 0 1, 1 0 1, 1 1 1, 0 1 1, 0 0 1)"
        rq = "(0 0 9, 0 1 9, 1 1 9, 1 0 9, 0 0 9)"
        pillow = f"POLYHEDRALSURFACE M (({sq}), ({rq}))"
        assert A.is_closed(pillow) is True
        assert S.volume_wkt(pillow) == 0.0

    def test_patchn_keeps_dims(self):
        w = "TIN ZM (((0 0 5 1, 1 0 5 2, 0 1 5 3, 0 0 5 1)), (((0 0 5 1, 1 0 5 2, 1 1 5 3, 0 0 5 1))))"
        # malformed (extra parens in patch 2) -> parse None, patch_n None
        assert S.patch_n(w, 1) is None
        w2 = (
            "TIN ZM (((0 0 5 1, 1 0 5 2, 0 1 5 3, 0 0 5 1)), "
            "((0 0 5 1, 1 0 5 2, 1 1 5 3, 0 0 5 1)))"
        )
        assert S.patch_n(w2, 2) == "TRIANGLE ZM ((0 0 5 1, 1 0 5 2, 1 1 5 3, 0 0 5 1))"
        m = "POLYHEDRALSURFACE M (((0 0 7, 1 0 7, 1 1 7, 0 1 7, 0 0 7)))"
        assert S.patch_n(m, 1) == "POLYGON M ((0 0 7, 1 0 7, 1 1 7, 0 1 7, 0 0 7))"
        assert S.num_patches(m) == 1

    def test_mixed_dims_wkb_patch_rejects(self):
        # a TIN Z buffer whose nested patch claims ZM must not decode
        import struct

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            wkb as W,
        )

        b = W.wkt_to_wkb("TIN Z (((0 0 0, 1 0 0, 0 1 0, 0 0 0)))")
        # flip the OUTER header to ZM (3016) while the patch stays Z
        bad = b[:1] + struct.pack("<I", 3016) + b[5:]
        assert W.wkb_to_wkt(bad) is None

    def test_force2d_gc_depth_cap(self):
        # ADVICE r16: adversarially deep GC nesting stops at the cap
        # instead of hitting RecursionError
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            measure_m as M,
        )

        deep = "POINT M (1 2 3)"
        for _ in range(40):
            deep = f"GEOMETRYCOLLECTION M ({deep})"
        assert M.force2d_wkt(deep) is None
        shallow = "GEOMETRYCOLLECTION M (POINT M (1 2 3))"
        assert M.force2d_wkt(shallow) == "GEOMETRYCOLLECTION (POINT (1 2))"
