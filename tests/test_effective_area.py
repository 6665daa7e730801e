"""ST_SetEffectiveArea — functions/effective_area.py: VW effective
areas as M, monotone over deletion order, FLT_MAX endpoint pins, and
threshold-filter consistency with st_simplifyvw."""

from __future__ import annotations

import random

from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    wkt as W,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    geometry as G,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions import (
    simplify as SI,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.effective_area import (
    _FLT_MAX,
    set_effective_area_wkt as sea,
)


def test_tent_and_endpoints():
    out = sea("LINESTRING (0 0, 2 1, 4 0)")
    kind, _, pts = W.read(out)
    assert kind == "LineString"
    assert pts[0][2] == _FLT_MAX and pts[2][2] == _FLT_MAX
    assert pts[1][2] == 2.0


def test_monotone_over_deletion_order():
    out = sea("LINESTRING (0 0, 1 0, 2 1, 3 0, 4 0)")
    _, _, pts = W.read(out)
    interior = [p[2] for p in pts[1:-1]]
    assert interior == [0.5, 2.0, 0.5]  # two 0.5 deletions then the apex


def test_multiline_and_loud():
    out = sea("MULTILINESTRING ((0 0, 2 1, 4 0), (10 0, 11 5, 12 0))")
    kind, _, parts = W.read(out)
    assert kind == "MultiLineString" and len(parts) == 2
    assert parts[1][1][2] == 5.0
    assert sea("POINT (1 1)") is None
    assert sea("POLYGON ((0 0, 1 0, 1 1, 0 0))") is None
    assert sea("junk") is None
    assert sea(None) is None
    assert sea("LINESTRING (0 0, inf 1)") is None


def test_threshold_filter_reproduces_vw():
    """The defining property: keeping vertices with M >= tol gives
    exactly st_simplifyvw(line, tol) for every tolerance."""
    rng = random.Random(21)
    checked = 0
    for _ in range(60):
        n = rng.randint(4, 14)
        pts = [(rng.randint(0, 25), rng.randint(0, 25)) for _ in range(n)]
        dd = [pts[0]] + [p for i, p in enumerate(pts[1:], 1) if p != pts[i - 1]]
        if len(dd) < 4:
            continue
        w = "LINESTRING (" + ", ".join(f"{x} {y}" for x, y in dd) + ")"
        for tol in (0.5, 2.0, 8.0):
            vw = SI.simplify_vw(G.parse_wkt(w), tol)
            if vw is None:
                continue
            _, _, m = W.read(sea(w))
            kept = [(p[0], p[1]) for p in m if p[2] >= tol]
            assert list(vw.coords) == kept, (w, tol)
            checked += 1
    assert checked >= 100
