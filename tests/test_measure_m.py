"""Measure (M) linear referencing (functions/measure_m.py): codec
round trips, PostGIS AddMeasure/LocateAlong/LocateBetween semantics on
exact fixtures, non-monotonic measures, loud gates."""

from __future__ import annotations

import math

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    wkt as W,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import measure_m as M

L345 = "LINESTRING (0 0, 3 4, 6 8)"  # two length-5 segments


# ---- codec ------------------------------------------------------------


def test_parse_and_format_round_trip():
    for w in (
        "POINT M (1 2 3)",
        "MULTIPOINT M ((1 2 3), (4 5 6))",
        "LINESTRING M (0 0 0, 3 4 5)",
        "MULTILINESTRING M ((0 0 0, 1 0 1), (5 5 5, 6 5 6))",
        "MULTIPOINT M EMPTY",
        "MULTILINESTRING M EMPTY",
    ):
        kind, dims, payload = W.read(w)
        assert dims == "M"
        assert W.write(kind, dims, payload) == w


def test_parse_rejects_2d_and_junk():
    # 2-D text reads as XY, never as M
    assert W.read("LINESTRING (0 0, 1 1)")[1] == ""
    assert W.read("POINT (1 2)")[1] == ""
    # POLYGON M reads like every other M kind (PostGIS accepts it)
    assert W.read("POLYGON M ((0 0 0, 1 0 1, 1 1 2, 0 0 0))")[:2] == ("Polygon", "M")
    assert W.read("LINESTRING M (0 0, 1 1)") is None
    assert W.read("LINESTRING M (0 0 nan, 1 1 2)") is None
    assert W.read("junk") is None
    assert W.read(None) is None


# ---- AddMeasure -------------------------------------------------------


def test_addmeasure_by_arc_length():
    assert M.addmeasure_wkt(L345, 0, 10) == (
        "LINESTRING M (0 0 0, 3 4 5, 6 8 10)"
    )
    # descending measures work
    assert M.addmeasure_wkt(L345, 10, 0) == (
        "LINESTRING M (0 0 10, 3 4 5, 6 8 0)"
    )


def test_addmeasure_replaces_existing_m():
    withm = M.addmeasure_wkt(L345, 0, 10)
    assert M.addmeasure_wkt(withm, 100, 200) == (
        "LINESTRING M (0 0 100, 3 4 150, 6 8 200)"
    )


def test_addmeasure_multilinestring_is_continuous():
    ml = "MULTILINESTRING ((0 0, 3 4), (10 10, 13 14))"
    assert M.addmeasure_wkt(ml, 0, 10) == (
        "MULTILINESTRING M ((0 0 0, 3 4 5), (10 10 5, 13 14 10))"
    )


def test_addmeasure_zero_length_and_gates():
    assert M.addmeasure_wkt("LINESTRING (1 1, 1 1)", 3, 9) == (
        "LINESTRING M (1 1 3, 1 1 3)"
    )
    assert M.addmeasure_wkt("POINT (0 0)", 0, 1) is None
    assert M.addmeasure_wkt("POLYGON ((0 0, 1 0, 1 1, 0 0))", 0, 1) is None
    assert M.addmeasure_wkt(L345, float("nan"), 1) is None
    assert M.addmeasure_wkt(None, 0, 1) is None
    # kind preserved (code-review r14): empties and single-part multis
    # keep the INPUT kind like PostGIS
    assert M.addmeasure_wkt("LINESTRING EMPTY", 0, 1) == "LINESTRING M EMPTY"
    assert M.addmeasure_wkt("MULTILINESTRING EMPTY", 0, 1) == (
        "MULTILINESTRING M EMPTY"
    )
    assert M.addmeasure_wkt("MULTILINESTRING ((0 0, 3 4))", 0, 5) == (
        "MULTILINESTRING M ((0 0 0, 3 4 5))"
    )


# ---- accessors --------------------------------------------------------


def test_m_accessors():
    assert M.m_of_point("POINT M (1 2 7.5)") == 7.5
    assert M.m_of_point("POINT (1 2)") is None
    assert M.m_of_point("LINESTRING M (0 0 0, 1 1 1)") is None
    assert M.mmin_of("LINESTRING M (0 0 5, 1 1 2, 2 2 9)") == 2
    assert M.mmax_of("MULTILINESTRING M ((0 0 1, 1 0 4), (2 2 8, 3 3 3))") == 8
    assert M.mmin_of("LINESTRING (0 0, 1 1)") is None
    assert M.mmin_of("MULTIPOINT M EMPTY") is None
    assert M.zmflag_of("POINT M (1 2 3)") == 1
    assert M.zmflag_of("POINT (1 2)") == 0
    assert M.zmflag_of("POLYGON EMPTY") == 0
    assert M.zmflag_of("junk") is None


# ---- InterpolatePoint -------------------------------------------------


def test_interpolatepoint_measure_at_closest():
    dm = M.addmeasure_wkt(L345, 0, 10)
    # the probe (3, 4) is the middle vertex
    assert M.interpolatepoint_m(dm, "POINT (3 4)") == 5
    # probe off the first segment midpoint (1.5, 2): m = 2.5
    assert M.interpolatepoint_m(dm, "POINT (1.5 2)") == 2.5
    # beyond the end clamps
    assert M.interpolatepoint_m(dm, "POINT (60 80)") == 10
    assert M.interpolatepoint_m(dm, None) is None
    assert M.interpolatepoint_m("LINESTRING (0 0, 1 1)", "POINT (0 0)") is None


# ---- LocateAlong ------------------------------------------------------


def test_locatealong_interior_and_vertex():
    dm = M.addmeasure_wkt(L345, 0, 10)
    assert M.locatealong_wkt(dm, 2.5) == "MULTIPOINT M ((1.5 2 2.5))"
    # vertex hit dedupes the shared chain vertex
    assert M.locatealong_wkt(dm, 5) == "MULTIPOINT M ((3 4 5))"
    assert M.locatealong_wkt(dm, 99) == "MULTIPOINT M EMPTY"


def test_locatealong_nonmonotonic_hits_twice():
    w = "LINESTRING M (0 0 0, 10 0 10, 20 0 0)"
    assert M.locatealong_wkt(w, 5) == "MULTIPOINT M ((5 0 5), (15 0 5))"


def test_locatealong_points_and_const_segment():
    assert M.locatealong_wkt("MULTIPOINT M ((1 1 3), (2 2 4))", 4) == (
        "MULTIPOINT M ((2 2 4))"
    )
    assert M.locatealong_wkt("POINT M (1 1 3)", 3) == "MULTIPOINT M ((1 1 3))"
    # constant-measure segment contributes its endpoints
    w = "LINESTRING M (0 0 5, 10 0 5)"
    assert M.locatealong_wkt(w, 5) == "MULTIPOINT M ((0 0 5), (10 0 5))"


# ---- LocateBetween ----------------------------------------------------


def test_locatebetween_clips_interpolated():
    dm = M.addmeasure_wkt(L345, 0, 10)
    assert M.locatebetween_wkt(dm, 2.5, 7.5) == (
        "MULTILINESTRING M ((1.5 2 2.5, 3 4 5, 4.5 6 7.5))"
    )
    # whole range
    assert M.locatebetween_wkt(dm, 0, 10) == (
        "MULTILINESTRING M ((0 0 0, 3 4 5, 6 8 10))"
    )
    # disjoint spans on a V-shaped measure
    w = "LINESTRING M (0 0 0, 10 0 10, 20 0 0)"
    assert M.locatebetween_wkt(w, 0, 4) == (
        "MULTILINESTRING M ((0 0 0, 4 0 4), (16 0 4, 20 0 0))"
    )
    assert M.locatebetween_wkt(dm, 90, 99) == "MULTILINESTRING M EMPTY"
    assert M.locatebetween_wkt(dm, 7, 3) is None  # hi < lo: loud


def test_locatebetween_points():
    assert M.locatebetween_wkt("MULTIPOINT M ((1 1 3), (2 2 9))", 2, 4) == (
        "MULTIPOINT M ((1 1 3))"
    )


# ---- LineInterpolatePoints --------------------------------------------


def test_lineinterpolatepoints_repeat_and_single():
    assert M.lineinterpolatepoints_wkt(L345, 0.25, True) == (
        "MULTIPOINT (1.5 2, 3 4, 4.5 6, 6 8)"
    )
    assert M.lineinterpolatepoints_wkt(L345, 0.5, False) == "POINT (3 4)"
    assert M.lineinterpolatepoints_wkt(L345, 1.0, True) == "POINT (6 8)"
    # 0.4·10 = 4 → t = 4/5 = 0.8 (inexact): x = 0.8·3 carries the ulp
    assert M.lineinterpolatepoints_wkt(L345, 0.4, True) == (
        "MULTIPOINT (2.4000000000000004 3.2, 4.8 6.4)"
    )


def test_lineinterpolatepoints_gates():
    assert M.lineinterpolatepoints_wkt(L345, 0.0, True) is None
    assert M.lineinterpolatepoints_wkt(L345, -0.5, True) is None
    assert M.lineinterpolatepoints_wkt(L345, 1.5, True) is None
    assert M.lineinterpolatepoints_wkt(L345, float("nan"), True) is None
    assert M.lineinterpolatepoints_wkt("POINT (0 0)", 0.5, True) is None
    assert M.lineinterpolatepoints_wkt("junk", 0.5, True) is None
    assert M.lineinterpolatepoints_wkt(None, 0.5, True) is None


# ---- trajectories (M as time) ------------------------------------------


def test_isvalidtrajectory():
    assert M.isvalidtrajectory_of("LINESTRING M (0 0 0, 1 0 1, 2 0 2)") is True
    assert M.isvalidtrajectory_of("LINESTRING M (0 0 0, 1 0 1, 2 0 1)") is False
    assert M.isvalidtrajectory_of("LINESTRING M (0 0 2, 1 0 1)") is False
    assert M.isvalidtrajectory_of("LINESTRING (0 0, 1 1)") is None
    assert M.isvalidtrajectory_of("POINT M (0 0 0)") is None
    assert M.isvalidtrajectory_of("junk") is None


def test_cpa_crossing_trajectories():
    # A moves east along y=0, B moves north along x=10, both over t 0..10
    a = "LINESTRING M (0 0 0, 10 0 10)"
    b = "LINESTRING M (10 0 0, 10 10 10)"
    # closed form: t* = 10·w²/(w²+h²) with w=h=10 → 5; distance = w·h/√(w²+h²)
    t = M.closestpointofapproach_of(a, b)
    d = M.distancecpa_of(a, b)
    assert t == 5
    assert math.isclose(d, 100 / math.sqrt(200), rel_tol=1e-12)
    assert M.cpawithin_of(a, b, 10) is True
    assert M.cpawithin_of(a, b, 7) is False


def test_cpa_exact_meeting_and_parallel():
    # head-on meeting at t=5, distance 0
    a = "LINESTRING M (0 0 0, 10 0 10)"
    b = "LINESTRING M (10 0 0, 0 0 10)"
    assert M.closestpointofapproach_of(a, b) == 5
    assert M.distancecpa_of(a, b) == 0
    # parallel at constant distance: earliest measure wins the tie
    c = "LINESTRING M (0 3 0, 10 3 10)"
    assert M.closestpointofapproach_of(a, c) == 0
    assert M.distancecpa_of(a, c) == 3


def test_cpa_multi_segment_and_partial_overlap():
    # B only exists for t in [5, 10]; A's position at 5 is (5, 0)
    a = "LINESTRING M (0 0 0, 10 0 10)"
    b = "LINESTRING M (5 4 5, 10 4 10)"
    assert M.closestpointofapproach_of(a, b) == 5
    assert M.distancecpa_of(a, b) == 4
    # single-instant overlap evaluates that instant
    late = "LINESTRING M (10 0 10, 10 5 20)"
    assert M.closestpointofapproach_of(a, late) == 10
    assert M.distancecpa_of(a, late) == 0
    # the quadratic minimum inside a LATER segment of a 2-segment chase
    z = "LINESTRING M (0 4 0, 5 4 5, 5 -6 10)"
    t = M.closestpointofapproach_of(a, z)
    assert 5 < t < 10


def test_cpa_gates():
    a = "LINESTRING M (0 0 0, 10 0 10)"
    assert M.closestpointofapproach_of(a, "LINESTRING M (0 0 20, 1 0 30)") is None
    assert M.distancecpa_of(a, "LINESTRING M (0 0 0, 1 0 0)") is None  # invalid
    assert M.closestpointofapproach_of(a, "LINESTRING (0 0, 1 1)") is None
    assert M.cpawithin_of(a, a, -1) is None
    assert M.cpawithin_of(a, None, 5) is None


# ---- code-review r14 regressions ----------------------------------------


def test_lineinterpolatepoints_duplicate_segment_values():
    # a back-and-forth line whose first segment equals its last BY
    # VALUE: the last-segment fallback must go by index, not value
    zig = "LINESTRING (0 0, 1 0, 0 0, 1 0)"
    assert M.lineinterpolatepoints_wkt(zig, 0.5, False) == "POINT (0.5 0)"
    w = M.lineinterpolatepoints_wkt(zig, 0.9, False)
    x, y = (float(v) for v in w[len("POINT ("):-1].split())
    assert abs(x - 0.7) < 1e-12 and y == 0


def test_locatebetween_full_cover_stays_one_part():
    # exact endpoints at t = 0/1: a fully-covering range must return
    # the input chain as ONE part even for awkward float vertices
    import random

    rng = random.Random(7)
    for _ in range(300):
        pts = [
            (rng.uniform(-9, 9), rng.uniform(-9, 9)) for _ in range(3)
        ]
        line = "LINESTRING (" + ", ".join(
            f"{W._fmt(x)} {W._fmt(y)}" for x, y in pts
        ) + ")"
        dm = M.addmeasure_wkt(line, 0, 10)
        out = M.locatebetween_wkt(dm, -1, 11)
        assert out is not None and out.count("(") == 2, (dm, out)
