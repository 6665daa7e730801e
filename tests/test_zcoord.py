"""Z (3-D) coordinate suite (functions/zcoord.py, r15): the WKT Z/ZM
codec, accessors, force3d/force2d, 3-D length/distance closed forms,
and the wkb/measure_m integration (zmflag 2/3, POINT ZM carrying M)."""

from __future__ import annotations

import math
import random

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    wkt as W,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    measure_m as M,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    zcoord as Z,
)


class TestCodec:
    def test_roundtrips_canonical(self):
        for w in [
            "POINT Z (1 2 3)",
            "POINT ZM (1 2 3 4)",
            "MULTIPOINT Z ((1 2 3), (4 5 6))",
            "LINESTRING Z (0 0 0, 3 4 12)",
            "LINESTRING ZM (0 0 0 1, 3 4 12 2)",
            "MULTILINESTRING Z ((0 0 0, 1 1 1), (2 2 2, 3 3 3))",
            "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 0 1))",
            "POLYGON Z ((0 0 0, 9 0 0, 9 9 0, 0 9 0, 0 0 0), (1 1 0, 2 1 0, 2 2 0, 1 1 0))",
            "MULTIPOLYGON Z (((0 0 0, 1 0 0, 1 1 0, 0 0 0)))",
            "POINT Z EMPTY",
            "LINESTRING ZM EMPTY",
            "MULTIPOLYGON Z EMPTY",
        ]:
            kind, dims, payload = W.read(w)
            assert dims in ("Z", "ZM")
            assert W.write(kind, dims, payload) == w

    def test_rejections(self):
        # 2-D and M-only text read under their own dims
        assert W.read("POINT (1 2)")[1] == ""
        assert W.read("POINT M (1 2 3)")[1] == "M"
        assert W.read("GEOMETRYCOLLECTION Z (POINT Z (1 2 3))")[:2] == ("GeometryCollection", "Z")
        for w in [
            None,
            "POINT Z (1 2)",  # wrong width
            "POINT Z (1 2 3 4)",  # Z with 4 coords
            "LINESTRING Z (0 0 0)",  # one vertex
            "POLYGON Z ((0 0 1, 4 0 1, 0 0 1))",  # 3-point ring
            "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 0 2))",  # unclosed (z)
            "POINT Z (1 2 nan)",
            "POINT Z (1 2 inf)",
            "POINT Z ((1 2 3)",  # unbalanced
        ]:
            assert W.read(w) is None, w

    def test_case_and_whitespace(self):
        assert W.read("  point z ( 1  2  3 ) ") == ("Point", "Z", (1.0, 2.0, 3.0))
        assert W.read("point zm(1 2 3 4)") == ("Point", "ZM", (1.0, 2.0, 3.0, 4.0))
        # bare MultiPoint coordinates (WKT allows both forms)
        assert W.read("MULTIPOINT Z (1 2 3, 4 5 6)") == (
            "MultiPoint", "Z", [(1.0, 2.0, 3.0), (4.0, 5.0, 6.0)],
        )


class TestAccessors:
    def test_z(self):
        assert Z.z_of_point("POINT Z (1 2 3)") == 3.0
        assert Z.z_of_point("POINT ZM (1 2 3 4)") == 3.0
        assert Z.z_of_point("POINT (1 2)") is None
        assert Z.z_of_point("POINT M (1 2 9)") is None
        assert Z.z_of_point("LINESTRING Z (0 0 0, 1 1 1)") is None
        assert Z.z_of_point("POINT Z EMPTY") is None

    def test_zmin_zmax(self):
        w = "MULTILINESTRING Z ((0 0 5, 1 0 -2), (9 9 7, 8 8 0))"
        assert Z.zmin_of(w) == -2.0
        assert Z.zmax_of(w) == 7.0
        poly = "POLYGON Z ((0 0 1, 4 0 2, 4 4 3, 0 0 1))"
        assert (Z.zmin_of(poly), Z.zmax_of(poly)) == (1.0, 3.0)
        assert Z.zmin_of("POINT (1 2)") is None
        assert Z.zmin_of("POINT Z EMPTY") is None

    def test_zm_point_carries_m(self):
        assert M.m_of_point("POINT ZM (1 2 3 4)") == 4.0
        assert M.m_of_point("POINT ZM (1 2 3 4)") == 4.0
        assert M.m_of_point("POINT Z (1 2 3)") is None

    def test_zmflag(self):
        assert M.zmflag_of("POINT (1 2)") == 0
        assert M.zmflag_of("POINT M (1 2 3)") == 1
        assert M.zmflag_of("POINT Z (1 2 3)") == 2
        assert M.zmflag_of("POINT ZM (1 2 3 4)") == 3
        assert M.zmflag_of("POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 0 1))") == 2
        assert M.zmflag_of("junk((") is None


class TestForce:
    def test_force3d_2d_gains_z(self):
        assert Z.force3d_wkt("POINT (1 2)") == "POINT Z (1 2 0)"
        assert Z.force3d_wkt("POINT (1 2)", 7) == "POINT Z (1 2 7)"
        assert (
            Z.force3d_wkt("POLYGON ((0 0, 4 0, 4 4, 0 0))", 2)
            == "POLYGON Z ((0 0 2, 4 0 2, 4 4 2, 0 0 2))"
        )
        assert (
            Z.force3d_wkt("MULTILINESTRING ((0 0, 1 1))")
            == "MULTILINESTRING Z ((0 0 0, 1 1 0))"
        )

    def test_force3d_echo_and_m_drop(self):
        assert Z.force3d_wkt("POINT Z (1 2 3)", 99) == "POINT Z (1 2 3)"
        # ZM → XYZ (force_dims(hasz=1, hasm=0): M discarded, Z kept)
        assert Z.force3d_wkt("POINT ZM (1 2 3 4)") == "POINT Z (1 2 3)"
        # M-only → M discarded, Z = default
        assert Z.force3d_wkt("POINT M (1 2 9)", 7) == "POINT Z (1 2 7)"
        assert (
            Z.force3d_wkt("LINESTRING M (0 0 1, 1 1 2)")
            == "LINESTRING Z (0 0 0, 1 1 0)"
        )

    def test_force3d_empty_and_refusals(self):
        assert Z.force3d_wkt("POLYGON EMPTY") == "POLYGON Z EMPTY"
        assert Z.force3d_wkt("POINT Z EMPTY") == "POINT Z EMPTY"
        # GEOMETRYCOLLECTION recurses member-wise since r16
        assert (
            Z.force3d_wkt("GEOMETRYCOLLECTION (POINT (1 2))")
            == "GEOMETRYCOLLECTION Z (POINT Z (1 2 0))"
        )
        assert Z.force3d_wkt("GEOMETRYCOLLECTION EMPTY") == (
            "GEOMETRYCOLLECTION Z EMPTY"
        )
        assert Z.force3d_wkt("GEOMETRYCOLLECTION (JUNK (1 2))") is None
        assert Z.force3d_wkt("junk((") is None
        assert Z.force3d_wkt("POINT (1 2)", float("nan")) is None

    def test_force2d_drops_z_and_zm(self):
        assert M.force2d_wkt("POINT Z (1 2 3)") == "POINT (1 2)"
        assert M.force2d_wkt("POINT ZM (1 2 3 4)") == "POINT (1 2)"
        assert (
            M.force2d_wkt("POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 0 1))")
            == "POLYGON ((0 0, 4 0, 4 4, 0 0))"
        )
        assert (
            M.force2d_wkt("MULTIPOLYGON Z (((0 0 0, 1 0 0, 1 1 0, 0 0 0)))")
            == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))"
        )
        assert M.force2d_wkt("POINT Z EMPTY") == "POINT EMPTY"
        assert M.force2d_wkt("MULTIPOINT ZM EMPTY") == "MULTIPOINT EMPTY"
        # the M and 2-D paths still work after the Z extension
        assert M.force2d_wkt("POINT M (1 2 3)") == "POINT (1 2)"
        assert M.force2d_wkt("POINT (1 2)") == "POINT (1 2)"


class TestMeasures3D:
    def test_3dlength_pythagorean(self):
        # (3, 4, 12) has |v| = 13 exactly
        assert Z.length3d_wkt("LINESTRING Z (0 0 0, 3 4 12)") == 13.0
        assert Z.length3d_wkt("MULTILINESTRING Z ((0 0 0, 3 4 12), (0 0 0, 2 3 6))") == 20.0
        # 2-D input reads Z = 0 (PostGIS)
        assert Z.length3d_wkt("LINESTRING (0 0, 3 4)") == 5.0
        assert Z.length3d_wkt("LINESTRING M (0 0 9, 3 4 9)") == 5.0
        assert Z.length3d_wkt("LINESTRING Z EMPTY") == 0.0

    def test_3dlength_refusals(self):
        assert Z.length3d_wkt("POINT Z (1 2 3)") is None
        assert Z.length3d_wkt("POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 0 1))") is None
        assert Z.length3d_wkt("junk((") is None

    def test_3ddistance_points(self):
        assert Z.distance3d_wkt("POINT Z (0 0 0)", "POINT Z (1 2 2)") == 3.0
        assert Z.distance3d_wkt("POINT Z (0 0 0)", "POINT Z (2 3 6)") == 7.0
        # 2-D operand reads Z = 0
        assert Z.distance3d_wkt("POINT (0 0)", "POINT Z (0 4 3)") == 5.0

    def test_3ddistance_point_segment(self):
        # point above the segment's interior: vertical drop
        assert Z.distance3d_wkt(
            "POINT Z (0 0 5)", "LINESTRING Z (-1 0 0, 1 0 0)"
        ) == 5.0
        # beyond the endpoint: distance to the endpoint
        assert Z.distance3d_wkt(
            "POINT Z (4 4 7)", "LINESTRING Z (0 0 0, 2 0 0)"
        ) == math.sqrt(4 + 16 + 49)

    def test_3ddistance_parallel_and_crossing_segments(self):
        assert Z.distance3d_wkt(
            "LINESTRING Z (0 0 0, 1 0 0)", "LINESTRING Z (0 1 3, 1 1 3)"
        ) == math.sqrt(10)
        # skew perpendicular lines, closest at the midpoints
        assert Z.distance3d_wkt(
            "LINESTRING Z (-1 0 0, 1 0 0)", "LINESTRING Z (0 -1 4, 0 1 4)"
        ) == 4.0
        # genuinely intersecting in 3-D
        assert Z.distance3d_wkt(
            "LINESTRING Z (0 0 0, 2 2 2)", "LINESTRING Z (2 0 0, 0 2 2)"
        ) == 0.0

    def test_3ddistance_refusals(self):
        assert Z.distance3d_wkt(
            "POINT Z (0 0 0)", "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 0 1))"
        ) is None
        assert Z.distance3d_wkt("POINT Z (0 0 0)", "POINT Z EMPTY") is None
        assert Z.distance3d_wkt("POINT Z (0 0 0)", None) is None
        assert Z.distance3d_wkt("POINT Z (0 0 0)", "junk((") is None

    def test_seg_seg_fuzz_vs_sampling(self):
        # closed-form segment distance vs dense parameter sampling —
        # the closed form must never exceed the sampled minimum
        rng = random.Random(42)
        for _ in range(200):
            p1, q1, p2, q2 = (
                tuple(rng.uniform(-5, 5) for _ in range(3)) for _ in range(4)
            )
            a = "LINESTRING Z ({} {} {}, {} {} {})".format(*p1, *q1)
            b = "LINESTRING Z ({} {} {}, {} {} {})".format(*p2, *q2)
            d = Z.distance3d_wkt(a, b)
            best = min(
                math.dist(
                    [p1[i] + (s / 40) * (q1[i] - p1[i]) for i in range(3)],
                    [p2[i] + (t / 40) * (q2[i] - p2[i]) for i in range(3)],
                )
                for s in range(41)
                for t in range(41)
            )
            assert d <= best + 1e-9
            assert d >= best - 0.5  # sampling grid is coarse; sanity only


class TestLocateBetweenContacts:
    def test_touch_at_mmax_returns_point(self):
        # the ADVICE r14 probe: mmax = 5, range [5, 8]
        assert (
            M.locatebetween_wkt("LINESTRING M (0 0 0, 10 0 5)", 5, 8)
            == "MULTIPOINT M ((10 0 5))"
        )

    def test_interior_vertex_touch(self):
        assert (
            M.locatebetween_wkt("LINESTRING M (0 0 0, 10 0 10, 20 0 0)", 10, 12)
            == "MULTIPOINT M ((10 0 10))"
        )

    def test_mixed_collection(self):
        got = M.locatebetween_wkt(
            "MULTILINESTRING M ((0 0 0, 10 0 5), (20 0 10, 30 0 20))", 0, 10
        )
        assert got == (
            "GEOMETRYCOLLECTION M (LINESTRING M (0 0 0, 10 0 5), "
            "POINT M (20 0 10))"
        )

    def test_span_endpoint_contact_not_duplicated(self):
        # the second part's touch at m=5 coincides with the first
        # span's endpoint → no duplicate POINT part
        got = M.locatebetween_wkt(
            "MULTILINESTRING M ((0 0 0, 10 0 5), (10 0 5, 30 0 20))", 0, 5
        )
        assert got == "MULTILINESTRING M ((0 0 0, 10 0 5))"

    def test_miss_still_empty(self):
        assert (
            M.locatebetween_wkt("LINESTRING M (0 0 0, 10 0 5)", 6, 8)
            == "MULTILINESTRING M EMPTY"
        )
        assert (
            M.locatebetween_wkt("LINESTRING M (0 0 3, 10 0 3)", 1, 2)
            == "MULTILINESTRING M EMPTY"
        )

    def test_full_span_unchanged(self):
        assert (
            M.locatebetween_wkt("LINESTRING M (0 0 0, 10 0 5)", 2, 8)
            == "MULTILINESTRING M ((4 0 2, 10 0 5))"
        )


class Test3DExtensions:
    """r15 continuation: the predicate/witness/interpolation/perimeter
    forms of the 3-D kernel."""

    def test_dwithin(self):
        assert Z.dwithin3d_wkt("POINT Z (0 0 0)", "POINT Z (1 2 2)", 3) is True
        assert Z.dwithin3d_wkt("POINT Z (0 0 0)", "POINT Z (1 2 2)", 2.999) is False
        assert Z.dwithin3d_wkt("POINT Z (0 0 0)", "POINT Z (1 2 2)", -1) is None
        assert Z.dwithin3d_wkt("POINT Z (0 0 0)", "POLYGON ((0 0, 1 0, 1 1, 0 0))", 5) is None

    def test_maxdistance_vertex_exact(self):
        assert Z.maxdistance3d_wkt("POINT Z (0 0 0)", "LINESTRING Z (0 0 0, 3 4 12)") == 13.0
        assert Z.maxdistance3d_wkt(
            "LINESTRING Z (0 0 0, 1 0 0)", "LINESTRING Z (0 0 0, 0 0 5)"
        ) == math.sqrt(26)
        assert Z.maxdistance3d_wkt("POINT Z (0 0 0)", "POINT Z EMPTY") is None

    def test_closest_and_shortest(self):
        assert Z.closestpoint3d_wkt(
            "LINESTRING Z (-1 0 0, 1 0 0)", "POINT Z (0 0 5)"
        ) == "POINT Z (0 0 0)"
        # argument order matters: the witness lives ON the first operand
        assert Z.closestpoint3d_wkt(
            "POINT Z (0 0 5)", "LINESTRING Z (-1 0 0, 1 0 0)"
        ) == "POINT Z (0 0 5)"
        assert Z.shortestline3d_wkt(
            "LINESTRING Z (-1 0 0, 1 0 0)", "POINT Z (0 0 5)"
        ) == "LINESTRING Z (0 0 0, 0 0 5)"
        # touching operands: the zero-length line, not NULL (PostGIS)
        assert Z.shortestline3d_wkt(
            "POINT Z (1 1 1)", "LINESTRING Z (0 0 0, 2 2 2)"
        ) == "LINESTRING Z (1 1 1, 1 1 1)"

    def test_lineinterpolatepoint(self):
        assert Z.lineinterpolatepoint3d_wkt("LINESTRING Z (0 0 0, 6 8 24)", 0.5) == "POINT Z (3 4 12)"
        # the Z leg counts toward arc length: quarter of (10 + 10·√2)…
        # use equal 3-D leg lengths instead: 0→(0,0,10) len 10, then
        # (0,0,10)→(0,10,10) len 10 — f=0.25 lands mid-first-leg
        assert Z.lineinterpolatepoint3d_wkt(
            "LINESTRING Z (0 0 0, 0 0 10, 0 10 10)", 0.25
        ) == "POINT Z (0 0 5)"
        assert Z.lineinterpolatepoint3d_wkt("LINESTRING Z (0 0 0, 6 8 24)", 0.0) == "POINT Z (0 0 0)"
        assert Z.lineinterpolatepoint3d_wkt("LINESTRING Z (0 0 0, 6 8 24)", 1.0) == "POINT Z (6 8 24)"
        # 2-D input reads Z = 0 (the other 3-D measures' convention)
        assert Z.lineinterpolatepoint3d_wkt("LINESTRING (0 0, 6 8)", 0.5) == "POINT Z (3 4 0)"
        assert Z.lineinterpolatepoint3d_wkt("MULTILINESTRING Z ((0 0 0, 1 1 1))", 0.5) is None
        assert Z.lineinterpolatepoint3d_wkt("LINESTRING Z (0 0 0, 6 8 24)", 1.5) is None
        assert Z.lineinterpolatepoint3d_wkt("POINT Z (0 0 0)", 0.5) is None

    def test_perimeter(self):
        # the 5-12-13 wall triangle: 3-D perimeter 5 + 12 + 13
        assert Z.perimeter3d_wkt("POLYGON Z ((0 0 0, 3 4 0, 3 4 12, 0 0 0))") == 30.0
        assert Z.perimeter3d_wkt("POLYGON ((0 0, 3 0, 3 4, 0 0))") == 12.0
        assert Z.perimeter3d_wkt(
            "MULTIPOLYGON Z (((0 0 0, 3 4 0, 3 4 12, 0 0 0)))"
        ) == 30.0
        assert Z.perimeter3d_wkt("POLYGON EMPTY") == 0.0
        assert Z.perimeter3d_wkt("LINESTRING Z (0 0 0, 1 1 1)") is None
        assert Z.perimeter3d_wkt("junk((") is None


def test_closest_witness_consistency_fuzz():
    """The witnesses returned by the closest-pair kernel must LIE ON
    their operands and reproduce the reported distance exactly."""
    rng = random.Random(7)

    def on_seg(c, a, b, tol=1e-9):
        # c = a + t(b−a) for some t in [0,1]: check via projection
        ab = [b[i] - a[i] for i in range(3)]
        d2 = sum(v * v for v in ab)
        if d2 == 0:
            return all(abs(c[i] - a[i]) < tol for i in range(3))
        t = sum((c[i] - a[i]) * ab[i] for i in range(3)) / d2
        return -tol <= t <= 1 + tol and all(
            abs(c[i] - (a[i] + t * ab[i])) < 1e-6 for i in range(3)
        )

    for _ in range(150):
        p1, q1, p2, q2 = (
            tuple(rng.uniform(-5, 5) for _ in range(3)) for _ in range(4)
        )
        a = "LINESTRING Z ({} {} {}, {} {} {})".format(*p1, *q1)
        b = "LINESTRING Z ({} {} {}, {} {} {})".format(*p2, *q2)
        d, ca, cb = Z._closest3d(a, b)
        assert abs(math.dist(ca, cb) - d) < 1e-9
        assert on_seg(ca, p1, q1)
        assert on_seg(cb, p2, q2)
        # the shortest-line text is built from exactly those witnesses
        assert Z.shortestline3d_wkt(a, b) == W.write(
            "LineString", "Z", [ca, cb]
        )


# ---- force family completion (r15 continuation 2) ------------------------


def test_force3dm_modes():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        zcoord as Z,
    )

    assert Z.force3dm_wkt("POINT (1 2)") == "POINT M (1 2 0)"
    assert Z.force3dm_wkt("POINT Z (1 2 3)") == "POINT M (1 2 0)"
    assert Z.force3dm_wkt("POINT ZM (1 2 3 4)") == "POINT M (1 2 4)"
    assert Z.force3dm_wkt("POINT M (1 2 9)") == "POINT M (1 2 9)"
    assert Z.force3dm_wkt("POINT EMPTY") == "POINT M EMPTY"
    assert Z.force3dm_wkt("POINT Z EMPTY") == "POINT M EMPTY"
    assert Z.force3dm_wkt("GEOMETRYCOLLECTION (POINT (1 2))") == (
        "GEOMETRYCOLLECTION M (POINT M (1 2 0))"
    )
    assert Z.force3dm_wkt("junk") is None


def test_force4d_modes():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        zcoord as Z,
    )

    assert Z.force4d_wkt("POINT (1 2)") == "POINT ZM (1 2 0 0)"
    assert Z.force4d_wkt("POINT Z (1 2 3)") == "POINT ZM (1 2 3 0)"
    assert Z.force4d_wkt("POINT M (1 2 9)") == "POINT ZM (1 2 0 9)"
    assert (
        Z.force4d_wkt("LINESTRING ZM (0 0 1 2, 3 4 5 6)")
        == "LINESTRING ZM (0 0 1 2, 3 4 5 6)"
    )
    assert Z.force4d_wkt("MULTIPOINT EMPTY") == "MULTIPOINT ZM EMPTY"
    assert Z.force4d_wkt("junk") is None


def test_ndims_across_codecs():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        zcoord as Z,
    )

    assert Z.ndims_of("POINT (1 2)") == 2
    assert Z.ndims_of("POINT Z (1 2 3)") == 3
    assert Z.ndims_of("POINT M (1 2 3)") == 3
    assert Z.ndims_of("POINT ZM (1 2 3 4)") == 4
    assert Z.ndims_of("TIN (((0 0, 1 0, 0 1, 0 0)))") == 2
    assert Z.ndims_of("TRIANGLE Z ((0 0 0, 1 0 0, 0 1 0, 0 0 0))") == 3
    assert Z.ndims_of("POLYGON EMPTY") == 2
    assert Z.ndims_of("junk") is None


def test_xy_accessors_on_dimensional_points(spark):
    row = spark.sql(
        "SELECT st_x('POINT Z (1 2 3)') AS xz, st_y('POINT M (4 5 6)') AS ym,"
        " st_x('POINT ZM (7 8 9 10)') AS xzm, st_x('POINT Z (1 2)') AS bad,"
        " st_distance('POINT Z (0 0 5)', 'POINT Z (3 4 9)') AS d,"
        " st_ndims('POINT ZM (1 2 3 4)') AS nd,"
        " st_coorddim('POINT M (1 2 3)') AS cd"
    ).collect()[0]
    assert row["xz"] == 1.0 and row["ym"] == 5.0 and row["xzm"] == 7.0
    assert row["bad"] is None or row["bad"] != row["bad"]  # NaN/NULL
    assert row["d"] == 5.0  # PostGIS: 2-D distance on Z points
    assert row["nd"] == 4 and row["cd"] == 3


class TestGeometryCollectionZ:
    """r16 (VERDICT r15 task 4): the Z codec's GEOMETRYCOLLECTION
    closure — member-recursive force family, accessors, 3-D kernels."""

    GC = "GEOMETRYCOLLECTION Z (POINT Z (1 2 3), LINESTRING Z (0 0 1, 2 2 5))"

    def test_force_family(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            measure_m as M,
            zcoord as Z,
        )

        assert Z.force3d_wkt(self.GC) == self.GC  # canonical echo
        assert Z.force3d_wkt(
            "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 2 2))", 7
        ) == (
            "GEOMETRYCOLLECTION Z (POINT Z (1 2 7), "
            "LINESTRING Z (0 0 7, 2 2 7))"
        )
        assert Z.force3dm_wkt(self.GC, 9) == (
            "GEOMETRYCOLLECTION M (POINT M (1 2 9), "
            "LINESTRING M (0 0 9, 2 2 9))"
        )
        assert Z.force4d_wkt(self.GC, 0, 4) == (
            "GEOMETRYCOLLECTION ZM (POINT ZM (1 2 3 4), "
            "LINESTRING ZM (0 0 1 4, 2 2 5 4))"
        )
        assert M.force2d_wkt(self.GC) == (
            "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 2 2))"
        )
        # nesting recurses; junk members stay loud
        assert Z.force3d_wkt(
            "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (3 4)))", 1
        ) == "GEOMETRYCOLLECTION Z (GEOMETRYCOLLECTION Z (POINT Z (3 4 1)))"
        assert Z.force3d_wkt("GEOMETRYCOLLECTION Z (JUNK (1 2))") is None
        # adversarial nesting past the cap is a NULL, not a crash
        deep = "GEOMETRYCOLLECTION (" * 40 + "POINT (1 2)" + ")" * 40
        assert Z.force3d_wkt(deep) is None

    def test_accessors(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            measure_m as M,
            zcoord as Z,
        )

        assert Z.zmin_of(self.GC) == 1.0 and Z.zmax_of(self.GC) == 5.0
        # mixed members: Z-less members contribute nothing
        assert Z.zmin_of(
            "GEOMETRYCOLLECTION (POINT (9 9), POINT Z (0 0 -5))"
        ) == -5.0
        assert Z.ndims_of(self.GC) == 3
        assert Z.ndims_of("GEOMETRYCOLLECTION ZM (POINT ZM (1 2 3 4))") == 4
        assert Z.ndims_of("GEOMETRYCOLLECTION (POINT (1 2))") == 2
        assert M.zmflag_of(self.GC) == 2
        assert M.zmflag_of("GEOMETRYCOLLECTION M (POINT M (1 2 3))") == 1
        assert M.zmflag_of("GEOMETRYCOLLECTION (POINT (1 2))") == 0

    def test_3d_kernels(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            zcoord as Z,
        )

        import math

        # nearest feature is the segment end (2, 2, 5): d = sqrt(10)
        d = Z.distance3d_wkt(self.GC, "POINT Z (1 2 8)")
        assert abs(d - math.sqrt(10.0)) < 1e-12
        # an areal member keeps the collection loud
        gc_areal = (
            "GEOMETRYCOLLECTION Z (POLYGON Z ((0 0 0, 1 0 0, 1 1 0, 0 0 0)))"
        )
        assert Z.distance3d_wkt(gc_areal, "POINT Z (0 0 0)") is None

    def test_udf_surface(self, spark):
        row = spark.sql(
            "SELECT st_force3d('GEOMETRYCOLLECTION (POINT (1 2))') AS f,"
            " st_zmin('GEOMETRYCOLLECTION Z (POINT Z (1 2 3))') AS zmin,"
            " st_ndims('GEOMETRYCOLLECTION ZM (POINT ZM (1 2 3 4))') AS nd,"
            " st_force2d('GEOMETRYCOLLECTION Z (POINT Z (1 2 3))') AS f2"
        ).collect()[0]
        assert row["f"] == "GEOMETRYCOLLECTION Z (POINT Z (1 2 0))"
        assert row["zmin"] == 3.0
        assert row["nd"] == 4
        assert row["f2"] == "GEOMETRYCOLLECTION (POINT (1 2))"


class TestLocateBetweenElevations:
    """ST_LocateBetweenElevations (r17) — the measure locatebetween
    kernel transposed to the Z ordinate."""

    def test_basic_clip(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            zcoord as Z,
        )

        # z spans == x spans, so interpolation is exact integers
        w = "LINESTRING Z (0 0 0, 10 0 10)"
        assert Z.locatebetweenelevations_wkt(w, 2, 5) == (
            "MULTILINESTRING Z ((2 0 2, 5 0 5))"
        )
        # full cover
        assert Z.locatebetweenelevations_wkt(w, 0, 10) == (
            "MULTILINESTRING Z ((0 0 0, 10 0 10))"
        )
        # disjoint window
        assert Z.locatebetweenelevations_wkt(w, 11, 12) == (
            "MULTILINESTRING Z EMPTY"
        )

    def test_descending_and_multi(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            zcoord as Z,
        )

        # descending z leg still clips, chain split across the window
        w = "LINESTRING Z (0 0 10, 10 0 0)"
        assert Z.locatebetweenelevations_wkt(w, 2, 5) == (
            "MULTILINESTRING Z ((5 0 5, 8 0 2))"
        )
        w2 = "MULTILINESTRING Z ((0 0 0, 4 0 4), (0 1 6, 4 1 10))"
        assert Z.locatebetweenelevations_wkt(w2, 3, 7) == (
            "MULTILINESTRING Z ((3 0 3, 4 0 4), (0 1 6, 1 1 7))"
        )

    def test_contacts_and_points(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            zcoord as Z,
        )

        # the window touches the segment at exactly one elevation
        w = "LINESTRING Z (0 0 0, 10 0 10)"
        assert Z.locatebetweenelevations_wkt(w, 10, 12) == (
            "MULTIPOINT Z ((10 0 10))"
        )
        assert Z.locatebetweenelevations_wkt("POINT Z (1 2 3)", 0, 5) == (
            "MULTIPOINT Z ((1 2 3))"
        )
        assert Z.locatebetweenelevations_wkt("POINT Z (1 2 9)", 0, 5) == (
            "MULTIPOINT Z EMPTY"
        )

    def test_zm_keeps_measure(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            zcoord as Z,
        )

        w = "LINESTRING ZM (0 0 0 100, 10 0 10 200)"
        assert Z.locatebetweenelevations_wkt(w, 2, 4) == (
            "MULTILINESTRING ZM ((2 0 2 120, 4 0 4 140))"
        )

    def test_loud_nulls(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            zcoord as Z,
        )

        assert Z.locatebetweenelevations_wkt("LINESTRING (0 0, 1 1)", 0, 5) is None
        assert Z.locatebetweenelevations_wkt("POINT M (1 2 3)", 0, 5) is None
        assert Z.locatebetweenelevations_wkt("LINESTRING Z (0 0 0, 1 0 1)", 5, 2) is None
        assert Z.locatebetweenelevations_wkt(None, 0, 1) is None
        assert Z.locatebetweenelevations_wkt("junk", 0, 1) is None


def test_3dlongestline():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        zcoord as Z,
    )

    a = "POINT Z (0 0 0)"
    b = "LINESTRING Z (1 0 1, 20 20 7)"
    assert Z.longestline3d_wkt(a, b) == "LINESTRING Z (0 0 0, 20 20 7)"
    # symmetric in roles (a-vertex first)
    assert Z.longestline3d_wkt(b, a) == "LINESTRING Z (20 20 7, 0 0 0)"
    # consistency with the max distance
    import math

    d = Z.maxdistance3d_wkt(a, b)
    assert abs(d - math.sqrt(20 * 20 + 20 * 20 + 49)) < 1e-12
    assert Z.longestline3d_wkt("junk", b) is None
    assert Z.longestline3d_wkt(None, b) is None
