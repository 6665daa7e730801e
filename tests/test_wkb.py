"""WKB codec: struct-level ground truth, roundtrips for every geometry
kind, big-endian decode, malformed-buffer fuzz, SQL surface, q140
oracle parity."""

from __future__ import annotations

import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import geometry as G
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.families import register_all
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import wkb as W
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.wkb import (
    geom_to_wkb,
    wkb_to_geom,
    wkb_to_wkt,
    wkt_to_wkb,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.operators import load_all
from sql_interface_to_xml_database_for_spatial_operations_spark.operators.registry import QUERIES

from conftest import SF_DIR, assert_parity

KINDS = [
    "POINT (3 4)",
    "POINT (-1.5 2.25)",
    "LINESTRING (0 0, 1 1, 2 0)",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
    "MULTIPOINT (1 1, 2 2)",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
]


class TestGroundTruth:
    def test_point_bytes_match_struct(self):
        wkb = wkt_to_wkb("POINT (3 4)")
        assert wkb == struct.pack("<BI2d", 1, 1, 3.0, 4.0)
        assert len(wkb) == 21
        assert wkb[:5] == bytes.fromhex("0101000000")

    def test_box_polygon_layout(self):
        wkb = wkt_to_wkb("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        # header(5) + nrings(4) + npts(4) + 5 * 16
        assert len(wkb) == 93
        assert wkb[:5] == bytes.fromhex("0103000000")
        assert struct.unpack_from("<I", wkb, 5)[0] == 1
        assert struct.unpack_from("<I", wkb, 9)[0] == 5
        assert struct.unpack_from("<2d", wkb, 13) == (0.0, 0.0)
        assert struct.unpack_from("<2d", wkb, 29) == (10.0, 0.0)

    def test_big_endian_decode(self):
        be = struct.pack(">BI2d", 0, 1, 3.0, 4.0)
        assert wkb_to_wkt(be) == "POINT (3 4)"

    def test_mixed_endian_nested(self):
        inner_be = struct.pack(">BI2d", 0, 1, 1.0, 2.0)
        inner_le = struct.pack("<BI2d", 1, 1, 3.0, 4.0)
        multi = struct.pack("<BII", 1, 4, 2) + inner_be + inner_le
        assert wkb_to_wkt(multi) == "MULTIPOINT (1 2, 3 4)"


class TestRoundtrip:
    def test_all_kinds(self):
        for wkt in KINDS:
            assert wkb_to_wkt(wkt_to_wkb(wkt)) == wkt

    def test_exact_double_preservation(self):
        wkt = "POINT (0.1 -179.30000000000001)"
        g = G.parse_wkt(wkt)
        rt = wkb_to_geom(geom_to_wkb(g))
        assert rt.coords == g.coords  # bit-exact through IEEE754


class TestMalformed:
    def test_null_and_garbage(self):
        assert wkb_to_wkt(None) is None
        assert wkb_to_wkt(b"") is None
        assert wkb_to_wkt(b"\x02\x01\x00\x00\x00") is None  # bad byte order
        assert wkt_to_wkb(None) is None
        assert wkt_to_wkb("junk((") is None

    def test_truncations_never_crash(self):
        for wkt in KINDS:
            full = wkt_to_wkb(wkt)
            for cut in range(len(full)):
                assert wkb_to_wkt(full[:cut]) is None

    def test_trailing_bytes_rejected(self):
        assert wkb_to_wkt(wkt_to_wkb("POINT (1 2)") + b"\x00") is None

    def test_ewkb_flags_rejected_not_misread(self):
        # PostGIS EWKB: type 1 | 0x20000000 (SRID flag) — must be NULL,
        # never a silently wrong point read from offset garbage.
        buf = struct.pack("<BIi2d", 1, 1 | 0x20000000, 4326, 3.0, 4.0)
        assert wkb_to_wkt(buf) is None

    def test_implausible_count_rejected(self):
        buf = struct.pack("<BII", 1, 2, 0xFFFFFFF0)
        assert wkb_to_wkt(buf) is None

    def test_deep_nesting_nulls_not_crashes(self):
        # ~1000 nested GEOMETRYCOLLECTION headers must NULL via the
        # depth cap, not blow the recursion limit and kill the task
        buf = struct.pack("<BII", 1, 7, 1) * 1000 + wkt_to_wkb("POINT (1 2)")
        assert wkb_to_wkt(buf) is None

    def test_empty_geometries_roundtrip(self):
        for kind in (
            "POINT", "LINESTRING", "POLYGON", "MULTIPOINT",
            "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION",
        ):
            wkt = f"{kind} EMPTY"
            buf = wkt_to_wkb(wkt)
            assert buf is not None, wkt
            assert wkb_to_wkt(buf) == wkt
        # PostGIS encodes POINT EMPTY as NaN coords; zero-count bodies
        # decode as typed EMPTY, never 'LINESTRING ()'
        assert len(wkt_to_wkb("POINT EMPTY")) == 21
        assert wkb_to_wkt(struct.pack("<BII", 1, 2, 0)) == "LINESTRING EMPTY"
        # overlay composition: encoding an EMPTY intersection result works
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.overlay import (
            intersection_wkt,
        )
        empty = intersection_wkt(
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
        )
        assert wkb_to_wkt(wkt_to_wkb(empty)) == "POLYGON EMPTY"

    def test_zero_point_ring_rejected(self):
        assert wkb_to_wkt(struct.pack("<BIII", 1, 3, 1, 0)) is None

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=60))
    def test_random_bytes_never_crash(self, buf):
        out = wkb_to_wkt(buf)
        assert out is None or isinstance(out, str)

    @settings(max_examples=100, deadline=None)
    @given(
        st.sampled_from(KINDS),
        st.integers(min_value=0, max_value=200),
        st.binary(min_size=1, max_size=4),
    )
    def test_near_miss_mutations_never_crash(self, wkt, pos, junk):
        full = bytearray(wkt_to_wkb(wkt))
        p = pos % len(full)
        full[p : p + len(junk)] = junk
        out = wkb_to_wkt(bytes(full))
        assert out is None or isinstance(out, str)


class TestSqlSurface:
    def test_roundtrip_in_sql(self, spark):
        register_all(spark)
        row = spark.sql(
            "SELECT st_geomfromwkb(st_asbinary('POINT (3 4)')) AS w, "
            "hex(st_asbinary('POINT (3 4)')) AS h, "
            "length(st_asbinary('POINT (3 4)')) AS n"
        ).collect()[0]
        assert row.w == "POINT (3 4)"
        assert row.h.startswith("0101000000")
        assert row.n == 21


class TestQ140:
    def test_oracle_parity(self, spark, oracle):
        load_all()
        q = QUERIES["q140_wkb_roundtrip"]
        assert_parity(q.fn(spark, SF_DIR), oracle, q.oracle, "q140")


class TestEWKB:
    """r15: the SRID-carrying EWKB surface (flag-bit dims + embedded
    SRID at the top level), alongside the plain reader's unchanged
    rejection of the flag."""

    def test_roundtrip_with_srid(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.wkb import (
            ewkb_srid,
            ewkb_to_wkt,
            wkt_to_ewkb,
        )

        for wkt in (
            "POINT (1 2)",
            "POINT Z (1 2 3)",
            "POINT ZM (1 2 3 4)",
            "POINT M (1 2 3)",
            "POLYGON ((0 0, 4 0, 4 4, 0 0))",
            "MULTIPOLYGON Z (((0 0 0, 1 0 0, 1 1 0, 0 0 0)))",
            "GEOMETRYCOLLECTION (POINT (1 2))",
            "POINT EMPTY",
            "LINESTRING Z EMPTY",
        ):
            buf = wkt_to_ewkb(wkt, 4326)
            assert buf is not None, wkt
            assert ewkb_to_wkt(buf) == wkt
            assert ewkb_srid(buf) == 4326
            # srid 0 omits the flag entirely (PostGIS behavior)
            b0 = wkt_to_ewkb(wkt, 0)
            assert ewkb_srid(b0) == 0 and ewkb_to_wkt(b0) == wkt

    def test_flag_layout(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.wkb import (
            wkb_to_wkt,
            wkt_to_ewkb,
        )

        buf = wkt_to_ewkb("POINT (1 2)", 4326)
        code, srid = struct.unpack_from("<Ii", buf, 1)
        assert code == 1 | 0x20000000 and srid == 4326
        bz = wkt_to_ewkb("POINT Z (1 2 3)", 27700)
        code, srid = struct.unpack_from("<Ii", bz, 1)
        assert code == 1 | 0x80000000 | 0x20000000 and srid == 27700
        # the PLAIN reader still rejects the SRID flag — never misreads
        assert wkb_to_wkt(buf) is None

    def test_gates(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions.wkb import (
            ewkb_srid,
            ewkb_to_wkt,
            wkt_to_ewkb,
            wkt_to_wkb,
        )

        assert wkt_to_ewkb("junk((", 4326) is None
        assert wkt_to_ewkb("POINT (1 2)", -1) is None
        assert wkt_to_ewkb("POINT (1 2)", 10**7) is None
        assert wkt_to_ewkb(None, 4326) is None
        assert ewkb_to_wkt(b"\x01") is None
        assert ewkb_srid(b"junk") is None
        # ISO-coded dims read fine through the ewkb reader too
        assert ewkb_to_wkt(wkt_to_wkb("POINT Z (1 2 3)")) == "POINT Z (1 2 3)"
        # a NESTED SRID flag (PostGIS never writes one) is rejected
        inner = wkt_to_ewkb("POINT (1 2)", 4326)
        bad = struct.pack("<BII", 1, 4, 1) + inner
        assert ewkb_to_wkt(bad) is None


class TestSurfaceWkb:
    """r15 continuation: SQL/MM surface types through the WKB codec
    (ISO codes 15/16/17, +1000 Z)."""

    CUBE = (
        "POLYHEDRALSURFACE Z ("
        "((0 0 0, 0 1 0, 1 1 0, 1 0 0, 0 0 0)), "
        "((0 0 1, 1 0 1, 1 1 1, 0 1 1, 0 0 1)), "
        "((0 0 0, 1 0 0, 1 0 1, 0 0 1, 0 0 0)), "
        "((1 0 0, 1 1 0, 1 1 1, 1 0 1, 1 0 0)), "
        "((1 1 0, 0 1 0, 0 1 1, 1 1 1, 1 1 0)), "
        "((0 1 0, 0 0 0, 0 0 1, 0 1 1, 0 1 0)))"
    )

    def test_roundtrips(self):
        for w in [
            self.CUBE,
            "TIN Z (((0 0 0, 1 0 0, 0 1 0, 0 0 0)), ((1 0 0, 1 1 0, 0 1 0, 1 0 0)))",
            "TRIANGLE Z ((0 0 0, 3 0 0, 0 4 0, 0 0 0))",
            "TRIANGLE ((0 0, 9 0, 0 9, 0 0))",
            "POLYHEDRALSURFACE (((0 0, 1 0, 1 1, 0 0)))",
            "POLYHEDRALSURFACE Z EMPTY",
            "TIN EMPTY",
            "TRIANGLE EMPTY",
        ]:
            assert W.wkb_to_wkt(W.wkt_to_wkb(w)) == w

    def test_type_codes(self):
        import struct as _st

        for w, code in [
            (self.CUBE, 1015),
            ("TIN EMPTY", 16),
            ("TRIANGLE ((0 0, 9 0, 0 9, 0 0))", 17),
        ]:
            b = W.wkt_to_wkb(w)
            assert _st.unpack_from("<I", b, 1)[0] == code

    def test_malformations_loud(self):
        import struct as _st

        b = W.wkt_to_wkb(self.CUBE)
        assert W.wkb_to_wkt(b[:-4]) is None  # truncation
        # a TIN whose patch is a POLYGON: wrong member kind
        bad = _st.pack("<BII", 1, 1016, 1) + W.wkt_to_wkb(
            "POLYGON Z ((0 0 0, 1 0 0, 0 1 0, 0 0 0))"
        )
        assert W.wkb_to_wkt(bad) is None
        # an open (3-point + closure missing) triangle ring must not
        # round-trip even though the buffer parses structurally
        bad2 = _st.pack("<BII I", 1, 17, 1, 3) + b"".join(
            _st.pack("<2d", x, y) for x, y in [(0, 0), (1, 0), (0, 1)]
        )
        assert W.wkb_to_wkt(bad2) is None
        # a TRIANGLE buffer with a second ring must not round-trip
        # truncated (code-review r15)
        ring = _st.pack("<I", 4) + b"".join(
            _st.pack("<2d", x, y) for x, y in [(0, 0), (9, 0), (0, 9), (0, 0)]
        )
        bad3 = _st.pack("<BII", 1, 17, 2) + ring + ring
        assert W.wkb_to_wkt(bad3) is None

    def test_ewkb_srid_round_trip(self):
        # code-review r15: the SRID-carrying form mirrors st_asbinary
        b = W.wkt_to_ewkb(self.CUBE, 4326)
        assert b is not None
        assert W.ewkb_srid(b) == 4326
        assert W.ewkb_to_wkt(b) == self.CUBE
        # srid 0 degrades to plain WKB byte-for-byte
        assert W.wkt_to_ewkb(self.CUBE, 0) == W.wkt_to_wkb(self.CUBE)
        tri = "TRIANGLE ((0 0, 9 0, 0 9, 0 0))"
        b2 = W.wkt_to_ewkb(tri, 27700)
        assert W.ewkb_srid(b2) == 27700 and W.ewkb_to_wkt(b2) == tri


class TestCurvedWkb:
    """r16 (VERDICT r15 task 4): WKB type codes 8-12 decode and
    linearize through curves.py (PostGIS quad_segs=32 default)."""

    @staticmethod
    def _cs(pts, order="<"):
        import struct

        head = struct.pack(order + "BII", 0 if order == ">" else 1, 8, len(pts))
        return head + b"".join(struct.pack(order + "2d", *p) for p in pts)

    @staticmethod
    def _ls(pts):
        import struct

        return struct.pack("<BII", 1, 2, len(pts)) + b"".join(
            struct.pack("<2d", *p) for p in pts
        )

    def test_circularstring_matches_curvetoline(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            curves as C,
            wkb as W,
        )

        out = W.wkb_to_wkt(self._cs([(0, 0), (1, 1), (2, 0)]))
        assert out == C.curvetoline_wkt("CIRCULARSTRING (0 0, 1 1, 2 0)", 32)
        assert out.startswith("LINESTRING (0 0, ")
        # big-endian decodes identically
        assert W.wkb_to_wkt(self._cs([(0, 0), (1, 1), (2, 0)], ">")) == out

    def test_compound_curvepolygon_multi(self):
        import struct

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            curves as C,
            wkb as W,
        )

        cc = (
            struct.pack("<BII", 1, 9, 2)
            + self._cs([(0, 0), (1, 1), (2, 0)])
            + self._ls([(2, 0), (4, 0)])
        )
        assert W.wkb_to_wkt(cc) == C.curvetoline_wkt(
            "COMPOUNDCURVE (CIRCULARSTRING (0 0, 1 1, 2 0), (2 0, 4 0))", 32
        )
        ring = self._cs([(0, 0), (2, 2), (4, 0), (2, -2), (0, 0)])
        cp = struct.pack("<BII", 1, 10, 1) + ring
        assert W.wkb_to_wkt(cp) == C.curvetoline_wkt(
            "CURVEPOLYGON (CIRCULARSTRING (0 0, 2 2, 4 0, 2 -2, 0 0))", 32
        )
        mc = (
            struct.pack("<BII", 1, 11, 2)
            + self._cs([(0, 0), (1, 1), (2, 0)])
            + self._ls([(5, 5), (6, 6)])
        )
        out = W.wkb_to_wkt(mc)
        assert out.startswith("MULTILINESTRING (")
        ms = (
            struct.pack("<BII", 1, 12, 2)
            + cp
            + struct.pack("<BII", 1, 3, 1)
            + struct.pack("<I", 4)
            + b"".join(
                struct.pack("<2d", *p)
                for p in [(10, 10), (11, 10), (11, 11), (10, 10)]
            )
        )
        out = W.wkb_to_wkt(ms)
        assert out.startswith("MULTIPOLYGON (") and "10 10" in out

    def test_curved_rejections(self):
        import struct

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            wkb as W,
        )

        # even point count, dimensional curves, wrong member kinds
        assert W.wkb_to_wkt(self._cs([(0, 0), (1, 1), (2, 0), (3, 3)])) is None
        assert (
            W.wkb_to_wkt(struct.pack("<BII", 1, 1008, 3) + b"\x00" * 72)
            is None
        )
        # a CURVEPOLYGON inside a COMPOUNDCURVE is malformed
        ring = self._cs([(0, 0), (2, 2), (4, 0), (2, -2), (0, 0)])
        cp = struct.pack("<BII", 1, 10, 1) + ring
        bad = struct.pack("<BII", 1, 9, 1) + cp
        assert W.wkb_to_wkt(bad) is None

    def test_gc_member_curve_linearizes(self):
        import struct

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            wkb as W,
        )

        gc = (
            struct.pack("<BII", 1, 7, 2)
            + self._cs([(0, 0), (1, 1), (2, 0)])
            + self._ls([(9, 9), (10, 10)])
        )
        out = W.wkb_to_wkt(gc)
        assert out.startswith("GEOMETRYCOLLECTION (LINESTRING (0 0, ")
        assert "LINESTRING (9 9, 10 10)" in out


class TestDimensionalCollectionWkb:
    """r16: GEOMETRYCOLLECTION Z / M / ZM through WKB and EWKB."""

    def test_roundtrips(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            wkb as W,
        )

        import struct

        for wkt, code in [
            (
                "GEOMETRYCOLLECTION Z (POINT Z (1 2 3), "
                "LINESTRING Z (0 0 1, 2 2 5))",
                1007,
            ),
            ("GEOMETRYCOLLECTION M (POINT M (1 2 9))", 2007),
            ("GEOMETRYCOLLECTION ZM (POINT ZM (1 2 3 4))", 3007),
            ("GEOMETRYCOLLECTION Z EMPTY", 1007),
            (
                "GEOMETRYCOLLECTION Z (GEOMETRYCOLLECTION Z (POINT Z (1 2 3)))",
                1007,
            ),
        ]:
            b = W.wkt_to_wkb(wkt)
            assert struct.unpack_from("<I", b, 1)[0] == code
            assert W.wkb_to_wkt(b) == wkt
        # EWKB carries the SRID over the ISO body
        eb = W.wkt_to_ewkb("GEOMETRYCOLLECTION ZM (POINT ZM (1 2 3 4))", 4326)
        assert W.ewkb_srid(eb) == 4326
        assert W.ewkb_to_wkt(eb) == "GEOMETRYCOLLECTION ZM (POINT ZM (1 2 3 4))"

    def test_mixed_member_dims_refuse(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            wkb as W,
        )

        assert (
            W.wkt_to_wkb("GEOMETRYCOLLECTION Z (POINT Z (1 2 3), POINT (1 2))")
            is None
        )

    def test_udf_roundtrip(self, spark):
        row = spark.sql(
            "SELECT st_geomfromwkb(st_asbinary("
            "'GEOMETRYCOLLECTION Z (POINT Z (1 2 3))')) AS rt"
        ).collect()[0]
        assert row["rt"] == "GEOMETRYCOLLECTION Z (POINT Z (1 2 3))"


class TestCurvedWkbEncode:
    """r16 continuation: the ENCODE side of the type-8-12 codec —
    st_asbinary accepts curved text (the st_linetocurve output class)
    and the reader linearizes it back."""

    def test_all_kinds_roundtrip_to_linearized(self):
        import struct

        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            curves as C,
            wkb as W,
        )

        cases = {
            "CIRCULARSTRING (5 0, 0 5, -5 0)": 8,
            "COMPOUNDCURVE ((9 0, 5 0), CIRCULARSTRING (5 0, 0 5, -5 0))": 9,
            "CURVEPOLYGON (COMPOUNDCURVE (CIRCULARSTRING (5 0, 0 5, -5 0),"
            " CIRCULARSTRING (-5 0, 0 -5, 5 0)))": 10,
            "MULTICURVE (CIRCULARSTRING (5 0, 3 4, -3 4), (0 0, 1 1))": 11,
            "MULTISURFACE (CURVEPOLYGON (CIRCULARSTRING (0 0, 2 2, 4 0,"
            " 2 -2, 0 0)), ((20 20, 21 20, 21 21, 20 20)))": 12,
            "CIRCULARSTRING EMPTY": 8,
        }
        for wkt, code in cases.items():
            b = W.wkt_to_wkb(wkt)
            assert struct.unpack_from("<I", b, 1)[0] == code, wkt
            assert W.wkb_to_wkt(b) == C.curvetoline_wkt(wkt, 32), wkt

    def test_linetocurve_through_binary(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            curves as C,
            wkb as W,
        )

        ltc = C.linetocurve_wkt(
            "LINESTRING (9 0, 5 0, 4 3, 3 4, 0 5, -3 4, -4 3, -5 0)"
        )
        assert ltc.startswith("COMPOUNDCURVE (")
        b = W.wkt_to_wkb(ltc)
        assert W.wkb_to_wkt(b) == C.curvetoline_wkt(ltc, 32)

    def test_ewkb_and_refusals(self):
        from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
            wkb as W,
        )

        eb = W.wkt_to_ewkb("CIRCULARSTRING (0 0, 1 1, 2 0)", 4326)
        assert W.ewkb_srid(eb) == 4326
        assert W.ewkb_to_wkt(eb).startswith("LINESTRING (0 0, ")
        # discontinuous compound / unclosed ring must not encode
        assert W.wkt_to_wkb(
            "COMPOUNDCURVE ((0 0, 1 1), CIRCULARSTRING (5 5, 6 6, 7 5))"
        ) is None
        assert W.wkt_to_wkb(
            "CURVEPOLYGON (CIRCULARSTRING (0 0, 1 1, 2 0))"
        ) is None

    def test_sql_surface(self, spark):
        row = spark.sql(
            "SELECT st_geomfromwkb(st_asbinary("
            "'CIRCULARSTRING (5 0, 0 5, -5 0)')) AS rt"
        ).collect()[0]
        assert row["rt"].startswith("LINESTRING (5 0, ")
