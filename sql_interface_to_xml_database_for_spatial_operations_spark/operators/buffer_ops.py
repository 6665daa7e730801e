"""Driver row for the line / polygon / negative ST_Buffer surface
(functions/buffer.py) — reference F12 (src/index.ts:44-63 forwards
ST_Buffer to PostGIS). q53 gates only the point path; this row gates
every other kind against closed-form Minkowski identities (VERDICT r9
item 2).

Oracle design: nation boxes are integer axis-aligned rectangles
(width w ∈ {30,45,60}, height h ∈ {20,30}), and the buffer kernel is
exact rational after n-gon vertex generation, so every family's area
equals a closed form computable in DuckDB from the box columns. With
r = 2 and the inscribed 32-gon K (area ngon = ½·32·r²·sin(2π/32)):

- ``rect``    box ⊕ K               = w·h + 2r(w+h) + ngon
- ``stadium`` bottom-edge ⊕ K       = 2·w·r + ngon
- ``corner``  bl→br→tr polyline ⊕ K = 2r(w+h) + ngon + ngon/4 − r²
  (two end half-disks, one outer quarter-sector, one r×r inner
  overlap at the 90° joint)
- ``holed``   box with a 6×6 hole at +8..+14 offsets: the hole erodes
  to (6−2r)² = 4, so area = w·h + 2r(w+h) + ngon − 4
- ``erode``   box ⊖ 3               = (w−6)(h−6) exactly (axis support
  of K is exactly r at n % 4 == 0)
- ``erode_line`` negative-distance line buffer → 'POLYGON EMPTY'

Areas compare as micro-ints (floor(x·1e6 + 0.5), the house idiom for
transcendental-valued columns); the empty family compares the typed
WKT string itself. Both sides build inputs/expectations from the same
integer box columns, so the comparison is deterministic.

``oc_*`` (r14 continuation, functions/offsetcurve.py): ST_OffsetCurve
on the bl→br→tr polyline — the left offset's exact concave trim, the
right offset's mitre/bevel exact integer chains, the round join's
point count and exact 45° middle arc point, the zero-distance echo,
and the lineal-only / offset-style-only loud-NULL gates.

Scale shape: st_buffer is a map-only Arrow-batched pandas UDF over a
25-row projection per family — no shuffle beyond the unionByName of
six projections of the same scan.

New module so spatial_ops.py's fingerprint stays untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_BOX_WKT = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)
_BOTTOM_WKT = sql_concat(
    "'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "')'",
)
_RING_WKT = sql_concat(
    "'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "')'",
)
_CORNER_WKT = sql_concat(
    "'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "')'",
)
# 6x6 hole strictly inside every box (w >= 30, h >= 20)
_H = {
    "h00": f"{int_str('minx + 8')} || ' ' || {int_str('miny + 8')}",
    "h10": f"{int_str('minx + 14')} || ' ' || {int_str('miny + 8')}",
    "h11": f"{int_str('minx + 14')} || ' ' || {int_str('miny + 14')}",
    "h01": f"{int_str('minx + 8')} || ' ' || {int_str('miny + 14')}",
}
_HOLED_WKT = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"],
    "'), ('", _H["h00"], "', '", _H["h10"], "', '", _H["h11"],
    "', '", _H["h01"], "', '", _H["h00"], "'))'",
)


def _micro(expr: str) -> str:
    return f"CAST(CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT) AS STRING)"


def _buf_area(wkt_expr: str, dist: str) -> str:
    return _micro(f"st_area(st_buffer({wkt_expr}, {dist}))")


_P0 = f"{int_str('minx')} || ' ' || {int_str('miny')}"
_P22 = f"{int_str('minx + 2')} || ' ' || {int_str('miny + 2')}"
_P20 = f"{int_str('minx + 2')} || ' ' || {int_str('miny')}"
_P02 = f"{int_str('minx')} || ' ' || {int_str('miny + 2')}"
_DIAG_BOWTIE_WKT = sql_concat(
    "'POLYGON (('", _P0, "', '", _P22, "', '", _P20, "', '", _P02,
    "', '", _P0, "'))'",
)

# Spark-side family expressions (st_buffer runs the real kernel)
_FAMILIES = {
    "rect": _buf_area(_BOX_WKT, "2.0D"),
    "stadium": _buf_area(_BOTTOM_WKT, "2.0D"),
    "corner": _buf_area(_CORNER_WKT, "2.0D"),
    "holed": _buf_area(_HOLED_WKT, "2.0D"),
    "erode": _buf_area(_BOX_WKT, "-3.0D"),
    "erode_line": f"st_buffer({_BOTTOM_WKT}, -1.0D)",
    # dist = 0 routes through ST_MakeValid's linework rebuild (r11):
    # valid input echoes verbatim, the diagonal bowtie repairs to its
    # two unit triangles
    "zero_echo": f"st_buffer({_BOX_WKT}, 0.0D)",
    "zero_repair": _buf_area(_DIAG_BOWTIE_WKT, "0.0D"),
    # style parameters (r14, VERDICT r13 item 4): flat/square endcaps
    # and mitre/bevel joins are EXACT on these axis-aligned fixtures
    # (no arc approximation in any piece) — areas are integer closed
    # forms and the convex mitre box is a string-equal WKT
    "st_flat": _micro(
        f"st_area(st_bufferstyle({_BOTTOM_WKT}, 2.0D, 'endcap=flat'))"
    ),
    "st_square": _micro(
        f"st_area(st_bufferstyle({_BOTTOM_WKT}, 2.0D, 'endcap=square'))"
    ),
    "st_mitre_corner": _micro(
        f"st_area(st_bufferstyle({_CORNER_WKT}, 2.0D, 'endcap=flat join=mitre'))"
    ),
    "st_mitre_box": f"st_bufferstyle({_BOX_WKT}, 2.0D, 'join=mitre')",
    "st_bevel_box": _micro(
        f"st_area(st_bufferstyle({_BOX_WKT}, 2.0D, 'join=bevel'))"
    ),
    "st_mitre_holed": _micro(
        f"st_area(st_bufferstyle({_HOLED_WKT}, 2.0D, 'join=mitre'))"
    ),
    "st_sq_pt": (
        f"st_bufferstyle('POINT (' || {_P22} || ')', 2.0D, 'endcap=square')"
    ),
    "st_flat_pt": (
        f"st_bufferstyle('POINT (' || {_P22} || ')', 2.0D, 'endcap=flat')"
    ),
    "st_bad_style": (
        f"COALESCE(st_bufferstyle({_BOX_WKT}, 2.0D, 'side=bogus'), 'NULL(style)')"
    ),
    # single-sided line buffers (r14): butt ends, join pieces only on
    # the buffered side — all exact on these axis-parallel fixtures
    "st_side_left": f"st_bufferstyle({_BOTTOM_WKT}, 2.0D, 'side=left')",
    "st_side_corner": _micro(
        f"st_area(st_bufferstyle({_CORNER_WKT}, 2.0D, 'side=right join=mitre'))"
    ),
    "st_side_ring": _micro(
        f"st_area(st_bufferstyle({_RING_WKT}, 2.0D, 'side=left join=mitre'))"
    ),
    "st_side_gate": (
        f"COALESCE(st_bufferstyle({_BOX_WKT}, 2.0D, 'side=left'), 'NULL(side)')"
    ),
    # ST_OffsetCurve (r14 continuation, functions/offsetcurve.py): on
    # the bl→br→tr right-angle polyline the left offset trims the
    # concave corner to an exact integer intersection; the right
    # offset's convex corner pins all three joins — mitre and bevel
    # are exact integer chains, round pins the point count and the
    # exact 45° middle arc point at micro precision
    "oc_left": f"st_offsetcurvestyle({_CORNER_WKT}, 2.0D, '')",
    # r15 (ADVICE r14): the PostGIS 2-arg call shape — default style
    "oc_plain": f"st_offsetcurve({_CORNER_WKT}, 2.0D)",
    "oc_mitre": f"st_offsetcurvestyle({_CORNER_WKT}, -2.0D, 'join=mitre')",
    "oc_bevel": f"st_offsetcurvestyle({_CORNER_WKT}, -2.0D, 'join=bevel')",
    "oc_round_n": int_str(
        f"size(st_dumppoints(st_offsetcurvestyle({_CORNER_WKT}, -2.0D, '')))"
    ),
    "oc_round_midx": _micro(
        f"st_x(element_at(st_dumppoints(st_offsetcurvestyle({_CORNER_WKT}, -2.0D, '')), 6))"
    ),
    "oc_round_midy": _micro(
        f"st_y(element_at(st_dumppoints(st_offsetcurvestyle({_CORNER_WKT}, -2.0D, '')), 6))"
    ),
    "oc_zero": f"st_offsetcurvestyle({_CORNER_WKT}, 0.0D, '')",
    "oc_kind_gate": (
        f"COALESCE(st_offsetcurvestyle({_BOX_WKT}, 2.0D, ''), 'NULL(kind)')"
    ),
    "oc_style_gate": (
        f"COALESCE(st_offsetcurvestyle({_CORNER_WKT}, 2.0D, 'endcap=flat'), 'NULL(style)')"
    ),
}

# DuckDB-side closed forms over the same integer columns
_NGON = "0.5 * 32 * 4.0 * sin(2 * pi() / 32)"  # inscribed 32-gon, r = 2
_W, _HH = "(maxx - minx)", "(maxy - miny)"
_ORACLE_VALS = {
    "rect": _micro(f"{_W} * {_HH} + 4.0 * ({_W} + {_HH}) + {_NGON}"),
    "stadium": _micro(f"4.0 * {_W} + {_NGON}"),
    "corner": _micro(f"4.0 * ({_W} + {_HH}) + {_NGON} + ({_NGON}) / 4 - 4.0"),
    "holed": _micro(f"{_W} * {_HH} + 4.0 * ({_W} + {_HH}) + {_NGON} - 4.0"),
    "erode": _micro(f"({_W} - 6.0) * ({_HH} - 6.0)"),
    "erode_line": "'POLYGON EMPTY'",
    "zero_echo": _BOX_WKT,  # oracle builds the identical WKT string
    "zero_repair": "'2000000'",  # bowtie → two unit triangles, area 2
    # styles (r14): flat strip 2r·w; square adds r on both ends; the
    # flat+mitre corner polyline is 2r(w+h) (the r² join square equals
    # the r² rect overlap); bevel cuts 4 half-r² corners off the mitre
    # box (w+2r)(h+2r); the mitre-holed box loses the (6−2r)² eroded
    # hole; the square point cap is the axis-aligned 2r square
    "st_flat": _micro(f"4.0 * {_W}"),
    "st_square": _micro(f"4.0 * ({_W} + 4.0)"),
    "st_mitre_corner": _micro(f"4.0 * ({_W} + {_HH})"),
    "st_mitre_box": sql_concat(
        "'POLYGON (('",
        f"{int_str('minx - 2')} || ' ' || {int_str('miny - 2')}", "', '",
        f"{int_str('maxx + 2')} || ' ' || {int_str('miny - 2')}", "', '",
        f"{int_str('maxx + 2')} || ' ' || {int_str('maxy + 2')}", "', '",
        f"{int_str('minx - 2')} || ' ' || {int_str('maxy + 2')}", "', '",
        f"{int_str('minx - 2')} || ' ' || {int_str('miny - 2')}",
        "'))'",
    ),
    "st_bevel_box": _micro(f"{_W} * {_HH} + 4.0 * ({_W} + {_HH}) + 8.0"),
    "st_mitre_holed": _micro(f"{_W} * {_HH} + 4.0 * ({_W} + {_HH}) + 12.0"),
    "st_sq_pt": sql_concat(
        "'POLYGON (('",
        f"{int_str('minx')} || ' ' || {int_str('miny')}", "', '",
        f"{int_str('minx + 4')} || ' ' || {int_str('miny')}", "', '",
        f"{int_str('minx + 4')} || ' ' || {int_str('miny + 4')}", "', '",
        f"{int_str('minx')} || ' ' || {int_str('miny + 4')}", "', '",
        f"{int_str('minx')} || ' ' || {int_str('miny')}",
        "'))'",
    ),
    "st_flat_pt": "'POLYGON EMPTY'",
    "st_bad_style": "'NULL(style)'",  # unknown side value: loud NULL
    # bottom edge buffered LEFT (north, into the box): exact rectangle
    "st_side_left": sql_concat(
        "'POLYGON (('",
        f"{int_str('minx')} || ' ' || {int_str('miny')}", "', '",
        f"{int_str('maxx')} || ' ' || {int_str('miny')}", "', '",
        f"{int_str('maxx')} || ' ' || {int_str('miny + 2')}", "', '",
        f"{int_str('minx')} || ' ' || {int_str('miny + 2')}", "', '",
        f"{int_str('minx')} || ' ' || {int_str('miny')}",
        "'))'",
    ),
    # bl→br→tr buffered RIGHT (outside the corner): 2r(w+h) + r² wedge
    "st_side_corner": _micro(f"2.0 * ({_W} + {_HH}) + 4.0"),
    # CCW box ring buffered LEFT (the inside band): wh − (w−2r)(h−2r)
    "st_side_ring": _micro(
        f"{_W} * {_HH} - ({_W} - 4.0) * ({_HH} - 4.0)"
    ),
    "st_side_gate": "'NULL(side)'",  # areal operand: lineal-only, loud
    # offset curve: trim corner (maxx−2, miny+2) / miter point
    # (maxx+2, miny−2) / bevel chord are exact integer chains; the
    # round middle arc point is the 45° one (libm on both sides)
    "oc_left": sql_concat(
        "'LINESTRING ('",
        f"{int_str('minx')} || ' ' || {int_str('miny + 2')}", "', '",
        f"{int_str('maxx - 2')} || ' ' || {int_str('miny + 2')}", "', '",
        f"{int_str('maxx - 2')} || ' ' || {int_str('maxy')}",
        "')'",
    ),
    "oc_plain": sql_concat(
        "'LINESTRING ('",
        f"{int_str('minx')} || ' ' || {int_str('miny + 2')}", "', '",
        f"{int_str('maxx - 2')} || ' ' || {int_str('miny + 2')}", "', '",
        f"{int_str('maxx - 2')} || ' ' || {int_str('maxy')}",
        "')'",
    ),
    "oc_mitre": sql_concat(
        "'LINESTRING ('",
        f"{int_str('minx')} || ' ' || {int_str('miny - 2')}", "', '",
        f"{int_str('maxx + 2')} || ' ' || {int_str('miny - 2')}", "', '",
        f"{int_str('maxx + 2')} || ' ' || {int_str('maxy')}",
        "')'",
    ),
    "oc_bevel": sql_concat(
        "'LINESTRING ('",
        f"{int_str('minx')} || ' ' || {int_str('miny - 2')}", "', '",
        f"{int_str('maxx')} || ' ' || {int_str('miny - 2')}", "', '",
        f"{int_str('maxx + 2')} || ' ' || {int_str('miny')}", "', '",
        f"{int_str('maxx + 2')} || ' ' || {int_str('maxy')}",
        "')'",
    ),
    "oc_round_n": "'11'",  # 4 chain points + 7 interior arc points
    "oc_round_midx": _micro("maxx + 2 * cos(pi() / 4)"),
    "oc_round_midy": _micro("miny - 2 * sin(pi() / 4)"),
    "oc_zero": _CORNER_WKT,
    "oc_kind_gate": "'NULL(kind)'",  # lineal-only, loud
    "oc_style_gate": "'NULL(style)'",  # endcap is buffer-only, loud
}

_Q155_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _ORACLE_VALS.items()
)


@query("q155_st_buffer_lines_polys", oracle=_Q155_ORACLE)
def q155_st_buffer_lines_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 ST_Buffer beyond points: line stadiums, right-angle polyline
    joins, convex Minkowski sums, hole shrinkage, and negative-distance
    erosion, each pinned to its closed-form area (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)
