"""ST_Extrude / ST_Tesselate (functions/extrude.py)."""

from __future__ import annotations

import math
import random

import pytest

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    extrude as X,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    geometry as G,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    accessors as A,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    surface3d as S,
)

_SQ = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
_HOLED = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"


def test_extrude_box_exact():
    e = X.extrude_wkt(_SQ, 0, 0, 3)
    assert e.startswith("POLYHEDRALSURFACE Z")
    assert S.volume_wkt(e) == 48.0
    assert S.area3d_wkt(e) == 80.0  # 2·16 + 16·3
    assert A.is_closed(e) is True


def test_extrude_holed_exact():
    e = X.extrude_wkt(_HOLED, 0, 0, 2)
    assert S.volume_wkt(e) == 24.0  # (16 − 4)·2
    assert S.area3d_wkt(e) == 72.0  # 2·12 + (16 + 8)·2
    assert A.is_closed(e) is True


def test_extrude_negative_and_oblique():
    assert S.volume_wkt(X.extrude_wkt(_SQ, 0, 0, -3)) == 48.0
    assert A.is_closed(X.extrude_wkt(_SQ, 0, 0, -3)) is True
    # shear does not change the volume (divergence theorem)
    e = X.extrude_wkt(_SQ, 7, -2, 3)
    assert S.volume_wkt(e) == 48.0
    assert A.is_closed(e) is True


def test_extrude_orientation_insensitive_to_input_winding():
    cw = "POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))"  # clockwise input
    e = X.extrude_wkt(cw, 0, 0, 3)
    assert S.volume_wkt(e) == 48.0 and A.is_closed(e) is True


def test_extrude_gates():
    assert X.extrude_wkt(_SQ, 0, 0, 0) is None  # flat slab
    assert X.extrude_wkt(_SQ, 0, 0, None) is None
    assert X.extrude_wkt(_SQ, 0, 0, float("nan")) is None
    assert X.extrude_wkt("POINT (1 2)", 0, 0, 1) is None
    assert X.extrude_wkt("MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)))", 0, 0, 1) is None
    assert X.extrude_wkt("junk", 0, 0, 1) is None
    assert X.extrude_wkt(None, 0, 0, 1) is None


def test_extrude_fuzz_volume_matches_area():
    rng = random.Random(11)
    for _ in range(100):
        # random convex-ish fan polygon around the origin
        n = rng.randint(3, 8)
        angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        if len(set(angles)) < 3:
            continue
        pts = [
            (math.cos(a) * rng.uniform(2, 5), math.sin(a) * rng.uniform(2, 5))
            for a in angles
        ]
        ring = pts + [pts[0]]
        g = G.Geometry("Polygon", [ring])
        area = abs(G.area(g))
        if area < 1e-9:
            continue
        h = rng.uniform(0.5, 4) * rng.choice([1, -1])
        e = X.extrude_wkt(G.to_wkt(g), rng.uniform(-2, 2), rng.uniform(-2, 2), h)
        assert e is not None
        assert A.is_closed(e) is True
        assert abs(S.volume_wkt(e) - area * abs(h)) < 1e-9 * max(
            1.0, area * abs(h)
        )


def test_tesselate_tin():
    t = X.tesselate_wkt(_SQ)
    assert t.startswith("TIN ((")
    assert S.area3d_wkt(t) == 16.0
    assert S.num_patches(t) == 2
    # multipolygon parts concatenate
    t2 = X.tesselate_wkt(
        "MULTIPOLYGON (((0 0, 1 0, 0 1, 0 0)), ((5 5, 6 5, 5 6, 5 5)))"
    )
    assert S.area3d_wkt(t2) == 1.0 and S.num_patches(t2) == 2
    # holed input is outside the ear clipper — loud
    assert X.tesselate_wkt(_HOLED) is None
    assert X.tesselate_wkt("POINT (1 1)") is None
    assert X.tesselate_wkt("junk") is None


def test_tesselate_area_conservation_fuzz():
    rng = random.Random(5)
    for _ in range(100):
        n = rng.randint(3, 9)
        angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        pts = [
            (math.cos(a) * rng.uniform(2, 6), math.sin(a) * rng.uniform(2, 6))
            for a in angles
        ]
        ring = pts + [pts[0]]
        g = G.Geometry("Polygon", [ring])
        area = abs(G.area(g))
        if area < 1e-6:
            continue
        t = X.tesselate_wkt(G.to_wkt(g))
        if t is None:  # self-intersecting star — the documented gate
            continue
        assert abs(S.area3d_wkt(t) - area) < 1e-9 * max(1.0, area)


def test_sql_surface(spark):
    row = spark.sql(
        "SELECT st_volume(st_extrude("
        "'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 0.0D, 0.0D, 3.0D)) AS v,"
        " st_numpatches(st_tessellate("
        "'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS n"
    ).collect()[0]
    assert row["v"] == 48.0
    assert row["n"] == 2
