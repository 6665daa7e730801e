"""Second misc PostGIS batch (functions/misc_fns2.py)."""

from __future__ import annotations

import math

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    wkt as W,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    misc_fns2 as M,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    geometry as G,
)

# -- ST_OrderingEquals ------------------------------------------------------


def test_ordering_equals_strictness():
    assert M.ordering_equals("POINT (1 2)", "POINT(1 2)") is True
    # same point set, different order: ST_Equals says true, this says no
    assert (
        M.ordering_equals("LINESTRING (0 0, 1 1)", "LINESTRING (1 1, 0 0)")
        is False
    )
    # dimensions are part of the type
    assert M.ordering_equals("POINT (1 2)", "POINT Z (1 2 0)") is False
    assert M.ordering_equals("POINT Z (1 2 3)", "POINT M (1 2 3)") is False
    assert M.ordering_equals("POINT Z (1 2 3)", "POINT Z (1 2 3)") is True
    # ring rotation is an ordering difference
    assert (
        M.ordering_equals(
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((1 0, 1 1, 0 1, 0 0, 1 0))",
        )
        is False
    )
    assert M.ordering_equals("POINT EMPTY", "POINT EMPTY") is True
    assert M.ordering_equals("POINT EMPTY", "LINESTRING EMPTY") is False
    assert M.ordering_equals("junk", "POINT (1 2)") is None
    assert M.ordering_equals(None, "POINT (1 2)") is None
    # surfaces compare too
    assert (
        M.ordering_equals(
            "TRIANGLE ((0 0, 1 0, 0 1, 0 0))",
            "TRIANGLE ((0 0, 1 0, 0 1, 0 0))",
        )
        is True
    )


# -- ST_ClipByBox2D ---------------------------------------------------------


def test_clip_by_box2d_exact():
    out = M.clip_by_box2d(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
    )
    g = G.parse_wkt(out)
    assert g.kind == "Polygon" and abs(G.area(g) - 4.0) < 1e-12
    assert G.bbox(g) == (0.0, 0.0, 2.0, 2.0)


def test_clip_by_box2d_takes_bbox_not_shape():
    # the box argument contributes only its bbox — a diagonal line's
    # bbox is the full square
    out = M.clip_by_box2d(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "LINESTRING (1 1, 3 3)"
    )
    g = G.parse_wkt(out)
    assert abs(G.area(g) - 4.0) < 1e-12
    assert G.bbox(g) == (1.0, 1.0, 3.0, 3.0)


def test_clip_by_box2d_degenerate_boxes():
    # zero-height box clips by its segment
    assert (
        M.clip_by_box2d("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
                        "LINESTRING (1 1, 3 1)")
        == "LINESTRING (1 1, 3 1)"
    )
    # zero-size box clips by its point
    assert (
        M.clip_by_box2d("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
                        "POINT (2 2)")
        == "POINT (2 2)"
    )
    # disjoint clip → typed empty by the minuend's dimension rule
    out = M.clip_by_box2d(
        "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
        "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
    )
    assert out == "POLYGON EMPTY"
    assert M.clip_by_box2d("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "junk") is None
    assert M.clip_by_box2d("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                           "POLYGON EMPTY") is None


# -- ST_FilterByM -----------------------------------------------------------


def test_filter_by_m_linestring():
    L = "LINESTRING M (0 0 1, 1 0 2, 2 0 3, 3 0 4)"
    assert M.filter_by_m(L, 2, 3) == "LINESTRING (1 0, 2 0)"
    assert M.filter_by_m(L, 9, 10) == "LINESTRING EMPTY"
    # a single surviving vertex is not a line
    assert M.filter_by_m(L, 2, 2) == "LINESTRING EMPTY"
    assert M.filter_by_m(L, 1, 4) == "LINESTRING (0 0, 1 0, 2 0, 3 0)"


def test_filter_by_m_points_and_multi():
    assert M.filter_by_m("POINT M (1 2 5)", 4, 6) == "POINT (1 2)"
    assert M.filter_by_m("POINT M (1 2 5)", 0, 1) == "POINT EMPTY"
    assert (
        M.filter_by_m("MULTIPOINT M ((1 2 5), (3 4 9))", 4, 6)
        == "MULTIPOINT (1 2)"
    )
    assert (
        M.filter_by_m("MULTILINESTRING M ((0 0 1, 1 0 2), (2 0 5, 3 0 6))", 1, 2)
        == "MULTILINESTRING ((0 0, 1 0))"
    )
    assert (
        M.filter_by_m("MULTILINESTRING M ((0 0 9, 1 0 9), (2 0 9, 3 0 9))", 1, 2)
        == "MULTILINESTRING EMPTY"
    )


def test_filter_by_m_zm_keeps_z():
    assert (
        M.filter_by_m("LINESTRING ZM (0 0 7 1, 1 0 8 2, 2 0 9 3)", 2, 3)
        == "LINESTRING Z (1 0 8, 2 0 9)"
    )
    assert (
        M.filter_by_m("POINT ZM (1 2 3 9)", 0, 1) == "POINT Z EMPTY"
    )


def test_filter_by_m_rejections():
    # no M to filter: loud (PostGIS raises for M-less geometries)
    assert M.filter_by_m("LINESTRING (0 0, 1 1)", 0, 1) is None
    assert M.filter_by_m("LINESTRING Z (0 0 1, 1 1 2)", 0, 1) is None
    assert M.filter_by_m("junk", 0, 1) is None
    assert M.filter_by_m("LINESTRING M (0 0 1, 1 0 2)", None, 1) is None
    assert M.filter_by_m("LINESTRING M (0 0 1, 1 0 2)", 0, float("nan")) is None


# -- ST_MakeBox2D -----------------------------------------------------------


def test_make_box2d():
    assert M.make_box2d("POINT (3 4)", "POINT (1 2)") == "BOX(1 2, 3 4)"
    assert M.make_box2d("POINT (1 2)", "POINT (1 2)") == "BOX(1 2, 1 2)"
    assert M.make_box2d("POINT (1 2)", "LINESTRING (0 0, 1 1)") is None
    assert M.make_box2d("POINT (1 2)", None) is None


# -- rotations / transscale -------------------------------------------------


def test_rotations_exact_anchors():
    # θ = π: cos = -1 exactly in IEEE, sin = O(1e-16)
    out = G.parse_wkt(M.rotate_x_wkt("POINT (1 2)", math.pi))
    assert out.coords[0] == 1.0 and abs(out.coords[1] + 2.0) < 1e-14
    # rotatez(2-D, θ) == st_rotate(2-D, θ)
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions.affine import (
        rotate_wkt,
    )

    for theta in (0.3, -1.2, math.pi / 3):
        assert M.rotate_z_wkt("LINESTRING (1 2, 3 4)", theta) == rotate_wkt(
            "LINESTRING (1 2, 3 4)", theta
        )


def test_rotation_composition_is_identity():
    # R(θ) then R(-θ) restores coordinates to ~ulp
    src = "LINESTRING Z (1 2 3, -4 5 -6)"
    for rot in (M.rotate_x_wkt, M.rotate_y_wkt, M.rotate_z_wkt):
        once = rot(src, 0.7)
        back = rot(once, -0.7)
        _, _, p0 = W.read(src)
        _, _, p1 = W.read(back)
        for a, b in zip(p0, p1):
            for u, v in zip(a, b):
                assert abs(u - v) < 1e-12


def test_rotation_preserves_m():
    out = M.rotate_z_wkt("POINT ZM (1 0 5 9)", math.pi / 2)
    kind, dims, p = W.read(out)
    assert dims == "ZM" and p[3] == 9.0 and p[2] == 5.0
    assert abs(p[0]) < 1e-15 and abs(p[1] - 1.0) < 1e-15
    # M-only input: z read as 0, rotated z discarded, M kept
    assert M.rotate_x_wkt("POINT M (1 2 9)", math.pi) == "POINT M (1 -2 9)"


def test_transscale_exact_integers():
    assert M.transscale_wkt("POINT (1 2)", 1, 2, 2, 3) == "POINT (4 12)"
    assert (
        M.transscale_wkt("POINT ZM (1 2 3 4)", 1, 2, 2, 3)
        == "POINT ZM (4 12 3 4)"
    )
    assert M.transscale_wkt("LINESTRING M EMPTY", 1, 1, 1, 1) == (
        "LINESTRING M EMPTY"
    )
    assert M.transscale_wkt("POINT (1 2)", None, 1, 1, 1) is None
    assert M.transscale_wkt("POINT (1 2)", 0, 0, float("inf"), 1) is None


def test_empty_echo_through_dims():
    assert M.rotate_x_wkt("POINT Z EMPTY", 1.0) == "POINT Z EMPTY"
    assert M.rotate_y_wkt("MULTIPOINT ZM EMPTY", 1.0) == "MULTIPOINT ZM EMPTY"
    assert M.rotate_z_wkt("POLYGON EMPTY", 1.0) == "POLYGON EMPTY"


# -- SQL surface ------------------------------------------------------------


def test_sql_surface(spark):
    row = spark.sql(
        "SELECT st_orderingequals('POINT (1 2)', 'POINT(1 2)') AS a,"
        " st_clipbybox2d('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))',"
        "  st_makeenvelope(0.0D, 0.0D, 2.0D, 2.0D)) AS b,"
        " st_filterbym('LINESTRING M (0 0 1, 1 0 2, 2 0 3)', 2.0D, 3.0D) AS c,"
        " st_makebox2d('POINT (3 4)', 'POINT (1 2)') AS d,"
        " st_transscale('POINT (1 2)', 1.0D, 2.0D, 2.0D, 3.0D) AS e"
    ).collect()[0]
    assert row["a"] is True
    assert row["b"].startswith("POLYGON")
    assert row["c"] == "LINESTRING (1 0, 2 0)"
    assert row["d"] == "BOX(1 2, 3 4)"
    assert row["e"] == "POINT (4 12)"


def test_line_from_multipoint():
    assert (
        M.line_from_multipoint("MULTIPOINT (1 2, 3 4, 5 6)")
        == "LINESTRING (1 2, 3 4, 5 6)"
    )
    assert (
        M.line_from_multipoint("MULTIPOINT ((1 2), (3 4))")
        == "LINESTRING (1 2, 3 4)"
    )
    assert M.line_from_multipoint("MULTIPOINT (1 2)") is None
    assert M.line_from_multipoint("POINT (1 2)") is None
    assert M.line_from_multipoint("MULTIPOINT EMPTY") is None
    assert M.line_from_multipoint("junk") is None
    assert M.line_from_multipoint(None) is None


def test_iscollection_matrix():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        misc_fns2 as M,
    )

    yes = [
        "MULTIPOINT ((1 2))",
        "MULTILINESTRING M ((0 0 1, 1 1 2))",
        "MULTIPOLYGON EMPTY",
        "GEOMETRYCOLLECTION (POINT (1 2))",
        "GEOMETRYCOLLECTION EMPTY",
        "GEOMETRYCOLLECTION Z (POINT Z (1 2 3))",
        "POLYHEDRALSURFACE Z (((0 0 0, 1 0 0, 1 1 0, 0 0 0)))",
        "TIN M (((0 0 1, 1 0 2, 0 1 3, 0 0 1)))",
        "MULTICURVE (CIRCULARSTRING (0 0, 1 1, 2 0))",
    ]
    no = [
        "POINT (1 2)",
        "POINT EMPTY",
        "LINESTRING Z (0 0 0, 1 1 1)",
        "TRIANGLE ((0 0, 4 0, 0 3, 0 0))",
        "CIRCULARSTRING (0 0, 1 1, 2 0)",
    ]
    for w in yes:
        assert M.iscollection_of(w) is True, w
    for w in no:
        assert M.iscollection_of(w) is False, w
    assert M.iscollection_of("junk") is None
    assert M.iscollection_of(None) is None


def test_memsize_wkb_arithmetic():
    from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
        misc_fns2 as M,
    )

    assert M.memsize_of("POINT (1 2)") == 21            # 1+4+16
    assert M.memsize_of("POINT Z (1 2 3)") == 29        # 1+4+24
    assert M.memsize_of("LINESTRING (0 0, 1 1, 2 2)") == 9 + 3 * 16
    assert M.memsize_of("MULTIPOINT ((1 2), (3 4))") == 9 + 2 * 21
    # POLYGON: 9 + ring-count*4? -> 1+4+4 + (4 + 4*16)
    assert M.memsize_of("POLYGON ((0 0, 1 0, 1 1, 0 0))") == 9 + 4 + 4 * 16
    assert M.memsize_of("junk") is None
    assert M.memsize_of(None) is None


def test_iscollection_memsize_sql(spark):
    row = spark.sql(
        "SELECT st_iscollection('MULTIPOINT ((1 2))') AS a,"
        " st_iscollection('POINT (1 2)') AS b,"
        " st_iscollection(NULL) AS c,"
        " st_memsize('POINT (1 2)') AS d,"
        " st_memsize(NULL) AS e"
    ).collect()[0]
    assert row["a"] is True and row["b"] is False and row["c"] is None
    assert row["d"] == 21 and row["e"] is None
