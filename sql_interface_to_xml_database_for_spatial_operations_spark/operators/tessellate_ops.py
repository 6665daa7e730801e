"""Driver row for the tessellation family (functions/tessellate.py):
ST_DelaunayTriangles / ST_VoronoiPolygons / ST_ConcaveHull — PostGIS
names the reference forwards verbatim (F12, src/index.ts:44-63).

Oracle design over the integer nation boxes (w = maxx-minx ≥ 30,
h = maxy-miny ≥ 20):

- ``del_tri3``: three non-collinear corners triangulate to exactly one
  triangle; the canonical ring (CCW from the smallest vertex) is
  bl → br → tl → bl — string-built exactly.
- ``del_count5``: the four corners plus one interior point: EVERY
  triangulation of a convex quad with one interior site has
  2·5 − 2 − 4 = 4 triangles (Euler), so the count is diagonal-choice
  independent — '4'.
- ``del_area5``: a triangulation covers the convex hull exactly →
  Σ areas = w·h, compared as micro-ints.
- ``del_collinear`` / ``del_point``: degenerate inputs (< 3 distinct or
  collinear) → GEOMETRYCOLLECTION EMPTY.
- ``vor_two``: two sites 2 apart on the bottom edge: the envelope is
  degenerate (h' = 0) so the clip pad is max(w', h') = 2 — both cells
  are integer rectangles split by the vertical bisector, string-built.
- ``vor_one``: one site → one cell = the ±1-padded unit box around it.
- ``vor_area4``: total Voronoi area always equals the clip-envelope
  area: (w + 2p)(h + 2p) with p = greatest(w, h) — the module's
  documented envelope convention, closed-form in SQL.
- ``ch_convex``: the chi-shape at ratio 1 IS the convex hull (no edge
  exceeds the longest edge) → area w·h for the corner 5-point set.
- ``ch_bay`` / ``ch_monotone``: the fixed bay fixture (see inline
  comment) erodes to exactly 280 with a UNIQUE longest candidate (no
  tie-order dependence), and area is monotone in the ratio.

Scale shape: map-only pandas UDFs over 25-row projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


def _pt(xe: str, ye: str) -> str:
    return f"{int_str(xe)} || ' ' || {int_str(ye)}"


def _micro(expr: str) -> str:
    return f"CAST(CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT) AS STRING)"


_TRI3 = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tl"], "')'",
)
_FIVE = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '",
    _pt("minx + 1", "miny + 1"), "')'",
)
_COLL = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", _pt("minx + 1", "miny"),
    "', '", CORNERS["br"], "')'",
)
_BL_POINT = sql_concat("'POINT ('", CORNERS["bl"], "')'")
_TWO = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", _pt("minx + 2", "miny"), "')'",
)
_FOUR = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "')'",
)

# fixed-size bay fixture (trapezoid with a shortened top edge + an
# interior bay point), offset by each box's corner: its chi-shape
# erosion is box-size independent — one hand derivation serves all 25
# rows. Hull (0,0) (24,0) (24,16) (4,16): area 352. Edge lengths:
# bottom 24, top 20, right 16, left slant ~16.49; spokes to (12,6):
# ~13.42, ~13.42, ~15.62, ~12.81 → ratio-0.5 threshold ≈ 18.4. The
# bottom edge is the UNIQUE longest candidate (no tie to depend on —
# code-review r11), its removal puts the bay point on the boundary so
# the top removal becomes irregular → area 352 − 24·6/2 = 280 exactly.
_BAY = sql_concat(
    "'MULTIPOINT ('", CORNERS["bl"], "', '", _pt("minx + 24", "miny"), "', '",
    _pt("minx + 24", "miny + 16"), "', '", _pt("minx + 4", "miny + 16"), "', '",
    _pt("minx + 12", "miny + 6"), "')'",
)

# two concentric rings of 8 integer points (outer square side 20 with
# edge midpoints, inner square side 8 with midpoints), offset per box:
# at ratio 0.3 with allow_holes the erosion DIGS the inner diamond out
# (every removal deterministic — exact lengths, coordinate tie-break)
# and the dissolve re-assembly returns the shell + one diamond hole,
# area 248 (probe-verified translation-invariant; r12, VERDICT r11
# missing item 5).
_RINGS = sql_concat(
    "'MULTIPOINT ('",
    _pt("minx", "miny"), "', '", _pt("minx + 10", "miny"), "', '",
    _pt("minx + 20", "miny"), "', '", _pt("minx + 20", "miny + 10"), "', '",
    _pt("minx + 20", "miny + 20"), "', '", _pt("minx + 10", "miny + 20"),
    "', '", _pt("minx", "miny + 20"), "', '", _pt("minx", "miny + 10"),
    "', '", _pt("minx + 6", "miny + 6"), "', '", _pt("minx + 10", "miny + 6"),
    "', '", _pt("minx + 14", "miny + 6"), "', '",
    _pt("minx + 14", "miny + 10"), "', '", _pt("minx + 14", "miny + 14"),
    "', '", _pt("minx + 10", "miny + 14"), "', '",
    _pt("minx + 6", "miny + 14"), "', '", _pt("minx + 6", "miny + 10"),
    "')'",
)

_FAMILIES = {
    "del_tri3": f"st_delaunaytriangles({_TRI3})",
    "del_count5": int_str(f"st_numgeometries(st_delaunaytriangles({_FIVE}))"),
    "del_area5": _micro(f"st_area(st_delaunaytriangles({_FIVE}))"),
    "del_collinear": f"st_delaunaytriangles({_COLL})",
    "del_point": f"st_delaunaytriangles({_BL_POINT})",
    "vor_two": f"st_voronoipolygons({_TWO})",
    "vor_one": f"st_voronoipolygons({_BL_POINT})",
    "vor_area4": _micro(f"st_area(st_voronoipolygons({_FOUR}))"),
    "ch_convex": _micro(f"st_area(st_concavehull({_FIVE}, 1.0))"),
    "ch_bay": _micro(f"st_area(st_concavehull({_BAY}, 0.5))"),
    "ch_monotone": (
        f"CAST(st_area(st_concavehull({_BAY}, 0.2)) <= "
        f"st_area(st_concavehull({_BAY}, 1.0)) AS STRING)"
    ),
    "ch_holes": f"st_concavehull_holes({_RINGS}, 0.3)",
    # when nothing digs, the dissolve assembly must equal the ring
    # walk byte for byte (two independent assembly kernels)
    "ch_holes_bay_match": (
        f"CAST(st_concavehull_holes({_BAY}, 0.5) = "
        f"st_concavehull({_BAY}, 0.5) AS STRING)"
    ),
}

_W, _H = "(maxx - minx)", "(maxy - miny)"
_PAD = f"(CASE WHEN {_W} >= {_H} THEN {_W} ELSE {_H} END)"

_TRI3_WKT = sql_concat(
    "'GEOMETRYCOLLECTION (POLYGON (('", CORNERS["bl"], "', '",
    CORNERS["br"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "')))'",
)
_VOR_TWO_WKT = sql_concat(
    "'GEOMETRYCOLLECTION (POLYGON (('",
    _pt("minx - 2", "miny - 2"), "', '", _pt("minx + 1", "miny - 2"), "', '",
    _pt("minx + 1", "miny + 2"), "', '", _pt("minx - 2", "miny + 2"), "', '",
    _pt("minx - 2", "miny - 2"),
    "')), POLYGON (('",
    _pt("minx + 1", "miny - 2"), "', '", _pt("minx + 4", "miny - 2"), "', '",
    _pt("minx + 4", "miny + 2"), "', '", _pt("minx + 1", "miny + 2"), "', '",
    _pt("minx + 1", "miny - 2"),
    "')))'",
)
_VOR_ONE_WKT = sql_concat(
    "'GEOMETRYCOLLECTION (POLYGON (('",
    _pt("minx - 1", "miny - 1"), "', '", _pt("minx + 1", "miny - 1"), "', '",
    _pt("minx + 1", "miny + 1"), "', '", _pt("minx - 1", "miny + 1"), "', '",
    _pt("minx - 1", "miny - 1"),
    "')))'",
)

_CH_HOLES_WKT = sql_concat(
    "'POLYGON (('",
    _pt("minx", "miny"), "', '", _pt("minx + 10", "miny"), "', '",
    _pt("minx + 14", "miny + 6"), "', '", _pt("minx + 20", "miny"), "', '",
    _pt("minx + 20", "miny + 10"), "', '", _pt("minx + 20", "miny + 20"),
    "', '", _pt("minx + 14", "miny + 14"), "', '",
    _pt("minx + 10", "miny + 20"), "', '", _pt("minx", "miny + 20"), "', '",
    _pt("minx + 6", "miny + 14"), "', '", _pt("minx", "miny + 10"), "', '",
    _pt("minx + 6", "miny + 6"), "', '", _pt("minx", "miny"),
    "'), ('",
    _pt("minx + 6", "miny + 10"), "', '", _pt("minx + 10", "miny + 14"),
    "', '", _pt("minx + 14", "miny + 10"), "', '",
    _pt("minx + 10", "miny + 6"), "', '", _pt("minx + 6", "miny + 10"),
    "'))'",
)

_ORACLE_VALS = {
    "del_tri3": _TRI3_WKT,
    "del_count5": "'4'",
    "del_area5": _micro(f"{_W} * {_H}"),
    "del_collinear": "'GEOMETRYCOLLECTION EMPTY'",
    "del_point": "'GEOMETRYCOLLECTION EMPTY'",
    "vor_two": _VOR_TWO_WKT,
    "vor_one": _VOR_ONE_WKT,
    "vor_area4": _micro(f"({_W} + 2 * {_PAD}) * ({_H} + 2 * {_PAD})"),
    "ch_convex": _micro(f"{_W} * {_H}"),  # ratio 1 = the convex hull
    "ch_bay": "'280000000'",
    "ch_monotone": "'true'",
    "ch_holes": _CH_HOLES_WKT,
    "ch_holes_bay_match": "'true'",
}

_Q165_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _ORACLE_VALS.items()
)


@query("q165_st_tessellate", oracle=_Q165_ORACLE)
def q165_st_tessellate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 tessellation family: exact-predicate Bowyer-Watson Delaunay
    and all-pairs half-plane Voronoi with string-built / closed-form
    oracles (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)
