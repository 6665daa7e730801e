"""EWKT codec + dimensional point constructors (functions/ewkt.py)."""

from __future__ import annotations

import math

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    ewkt as E,
)

# -- split / prefix parsing -------------------------------------------------


def test_split_variants():
    assert E.split_ewkt("SRID=4326;POINT (1 2)") == (4326, "POINT (1 2)")
    assert E.split_ewkt("srid = 7 ;POINT (1 2)") == (7, "POINT (1 2)")
    assert E.split_ewkt("POINT (1 2)") == (None, "POINT (1 2)")
    assert E.split_ewkt("SRID=0;POINT (1 2)") == (0, "POINT (1 2)")
    # out-of-range / negative prefixes are loud, never clamped
    assert E.split_ewkt("SRID=-1;POINT (1 2)") is None
    assert E.split_ewkt("SRID=999000;POINT (1 2)") is None
    assert E.split_ewkt(None) is None


def test_geomfromewkt_canonicalizes_every_codec():
    cases = {
        "SRID=4326;POINT(1 2)": "POINT (1 2)",
        "SRID=31;POINT Z (1 2 3)": "POINT Z (1 2 3)",
        "LINESTRING M (0 0 1, 2 0 5)": "LINESTRING M (0 0 1, 2 0 5)",
        "SRID=1;POINT ZM (1 2 3 4)": "POINT ZM (1 2 3 4)",
        "SRID=2;MULTIPOLYGON EMPTY": "MULTIPOLYGON EMPTY",
        "POINT EMPTY": "POINT EMPTY",
        "SRID=3;POINT Z EMPTY": "POINT Z EMPTY",
        "SRID=4;TRIANGLE ((0 0, 1 0, 0 1, 0 0))": (
            "TRIANGLE ((0 0, 1 0, 0 1, 0 0))"
        ),
        "SRID=5;GEOMETRYCOLLECTION (POINT (1 2))": (
            "GEOMETRYCOLLECTION (POINT (1 2))"
        ),
    }
    for src, want in cases.items():
        assert E.geomfromewkt(src) == want, src


def test_geomfromewkt_rejections():
    # curves are outside the extended codec (same stance as st_asewkb)
    assert E.geomfromewkt("SRID=4;CIRCULARSTRING (0 0, 1 1, 2 0)") is None
    # POLYGON M is outside the measure codec's kinds (wkb.py gate)
    assert E.geomfromewkt("POLYGON M ((0 0 1, 1 0 1, 0 1 1, 0 0 1))") is None
    assert E.geomfromewkt("SRID=1;junk") is None
    assert E.geomfromewkt("SRID=1;") is None


def test_srid_laws():
    g = "POINT (3 4)"
    assert E.sridfromewkt(g) == 4326  # plain WKT IS 4326 here (st_srid)
    assert E.sridfromewkt("SRID=12;POINT (3 4)") == 12
    assert E.sridfromewkt("SRID=0;POINT (3 4)") == 0
    assert E.sridfromewkt("SRID=12;junk") is None
    for n in (0, 7, 3857, E._MAX_SRID):
        assert E.sridfromewkt(E.setsrid(g, n)) == n
        assert E.asewkt(E.setsrid(g, n)) == f"SRID={n};{g}"
    assert E.asewkt(g) == "SRID=4326;POINT (3 4)"
    assert E.geomfromewkt(E.asewkt(g)) == g


def test_setsrid_argument_gates():
    g = "POINT (1 2)"
    assert E.setsrid(g, 7.0) == "SRID=7;POINT (1 2)"
    assert E.setsrid(g, 7.5) is None
    assert E.setsrid(g, float("nan")) is None
    assert E.setsrid(g, None) is None
    assert E.setsrid(g, -1) is None
    assert E.setsrid(g, E._MAX_SRID + 1) is None
    assert E.setsrid(None, 7) is None
    # replaces an existing prefix
    assert E.setsrid("SRID=3;POINT(1 2)", 9) == "SRID=9;POINT (1 2)"


def test_ewkt_agrees_with_ewkb_side():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        wkb as W,
    )

    for wkt, srid in [
        ("POINT (1 2)", 4326),
        ("LINESTRING Z (0 0 1, 2 0 3)", 31),
        ("MULTIPOINT M ((1 2 5), (3 4 6))", 0),
    ]:
        txt = E.setsrid(wkt, srid)
        buf = W.wkt_to_ewkb(wkt, srid)
        assert E.geomfromewkt(txt) == W.ewkb_to_wkt(buf) == wkt
        assert E.sridfromewkt(txt) == srid
        assert W.ewkb_srid(buf) == srid


# -- point constructors -----------------------------------------------------


def test_point_constructors():
    assert E.make_point(1.5, -2) == "POINT (1.5 -2)"
    assert E.point_z(1, 2, 3) == "POINT Z (1 2 3)"
    assert E.point_m(1, 2, 3) == "POINT M (1 2 3)"
    assert E.point_zm(1, 2, 3, 4) == "POINT ZM (1 2 3 4)"


@pytest.mark.parametrize("bad", [None, float("nan"), float("inf")])
def test_point_constructors_gate_nonfinite(bad):
    assert E.make_point(bad, 2) is None
    assert E.point_z(1, bad, 3) is None
    assert E.point_m(1, 2, bad) is None
    assert E.point_zm(1, 2, bad, 4) is None


def test_constructor_accessor_roundtrip():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        measure_m as M,
    )
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        zcoord as Z,
    )

    p = E.point_zm(10, 20, 30, 40)
    assert Z.z_of_point(p) == 30.0
    assert M.m_of_point(p) == 40.0


# -- SQL surface ------------------------------------------------------------


def test_sql_surface(spark):
    row = spark.sql(
        "SELECT st_asewkt('POINT(5 6)') AS a,"
        " st_geomfromewkt('SRID=7;POINT Z(1 2 3)') AS b,"
        " st_sridfromewkt(st_setsrid('POINT (1 2)', 3857)) AS c,"
        " st_makepoint(1.0D, 2.0D) AS d,"
        " st_pointzm(1.0D, 2.0D, 3.0D, 4.0D) AS e,"
        " st_makepointm(1.0D, 2.0D, 9.0D) AS f"
    ).collect()[0]
    assert row["a"] == "SRID=4326;POINT (5 6)"
    assert row["b"] == "POINT Z (1 2 3)"
    assert row["c"] == 3857
    assert row["d"] == "POINT (1 2)"
    assert row["e"] == "POINT ZM (1 2 3 4)"
    assert row["f"] == "POINT M (1 2 9)"


def test_canonical_matches_geomfromtext_for_2d():
    # on plain 2-D WKT the EWKT reader and st_geomfromtext agree
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        geometry as G,
    )

    for w in [
        "polygon((0 0, 4 0, 4 4, 0 4, 0 0))",
        "MULTILINESTRING((0 0, 1 1), (2 2, 3 3))",
    ]:
        assert E.geomfromewkt(w) == G.to_wkt(G.parse_wkt(w))


def test_nonfinite_body_is_null():
    # the text reader treats non-finite coordinates as junk — it must
    # NOT inherit the WKB decoder's NaN-coded-empty convention
    assert E.geomfromewkt("SRID=1;POINT (nan 2)") is None
    assert E.geomfromewkt("LINESTRING (0 0, inf 1)") is None
    assert E.geomfromewkt("POINT Z (1 2 nan)") is None
    assert E.asewkt("POINT (nan nan)") is None
    assert not math.isnan(0.0)
