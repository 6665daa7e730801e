"""Driver row for the linear-referencing family
(functions/linearref.py) — reference F12 surface (src/index.ts:44-63).

Fixture: the open L-path ``D = bl → br → tr`` along each nation box's
bottom then right edge. Widths w = 30 + (key%3)*15 and heights
h = 20 + (key%2)*10 are integers, so every expected value has a
closed form the oracle computes directly in SQL:

- ``interp_mid``: ST_LineInterpolatePoint(D, 0.5) at arc distance
  d = (w+h)/2. Every box has h ≤ 30 ≤ w, so d ≤ w always: the
  mid-fraction point is on the BOTTOM edge, incl. the exact-corner
  case (w = h = 30 → d = w lands exactly on the corner vertex).
- ``interp_up``: fraction 0.9 → d = 0.9(w+h) > w for every box —
  the point is always up the RIGHT edge, so the second-segment
  branch of the walk is oracle-covered too (the mid-fraction family
  alone would leave it dead on this fixture).
- ``interp_ends``: fractions 0 and 1 → the path endpoints.
- ``locate``: ST_LineLocatePoint at the corner (maxx, miny) →
  w/(w+h), and at the off-line probe (minx+10, miny+5) — 5 below the
  bottom-edge projection (minx+10, miny) but ≥ 20 from the right edge
  → 10/(w+h).
- ``substr``: ST_LineSubstring(D, 0.25, 0.75) → length is exactly
  (w+h)/2; vertex count is 3 when the slice spans the corner and 2
  when 0.75·(w+h) = w makes the corner the slice's endpoint (exactly
  the w=60, h=20 boxes — the corner-exact edge case is IN the oracle).
- ``closest``: ST_ClosestPoint(D, probe) = (minx+10, miny) and
  ST_ShortestLine length = exactly 5.

Values compare micro-int (the q130/q131 idiom — floor(v·1e6 + 0.5)):
projections/interpolations are exact-rational here (axis-parallel
integer segments), but the UDF path goes through libm sqrt/divide, so
the quantum absorbs sub-1e-8 ulp noise; every expected value sits ≥
0.25 away from the nearest half-quantum boundary except the designed
exact values, which both engines compute from identical closed forms.

Measure (M) families (r14 continuation, functions/measure_m.py):
``addm_interp`` remeasures D over 0..10 and pins ST_InterpolatePoint
at the corner (10·w/t) and at the off-line probe (term-for-term float
mirror); ``lbtw_range`` clips the arc-length-measured D to [10, 20]
and pins the cut measures via ST_MMin/MMax; ``lip_pts``/``lip_single``
pin ST_LineInterpolatePoints (plural) positions and count through the
2-D accessors; ``lalong_m`` measures the bottom edge BY x so a
ST_LocateAlong hit's measure is its position (plus a COALESCEd miss →
MULTIPOINT M EMPTY); ``zm_m`` pins ST_Zmflag and ST_M. Trajectory
families (``cpa_*``): closest approach of the bottom-edge and
right-edge runners (t* = 10w²/(w²+h²), distance = wh/√(w²+h²) — the
right triangle's altitude), the single-instant overlap (distance 0 at
the shared corner), the disjoint-window loud NULL, ST_CPAWithin
bounds, and ST_IsValidTrajectory on ascending/descending measures.

Scale shape: map-only pandas UDFs over the 25-row nation projection —
no shuffle. New module so linework_ops.py / geo_fn_ops.py
fingerprints stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._sql_fixtures import CORNERS, int_str, sql_union_rows
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_PT_BL = CORNERS["bl"]
_PT_BR = CORNERS["br"]
_PT_TR = CORNERS["tr"]
_D_IN = f"'LINESTRING (' || {_PT_BL} || ', ' || {_PT_BR} || ', ' || {_PT_TR} || ')'"
_CORNER_PT = f"'POINT (' || {_PT_BR} || ')'"
_PROBE_PT = f"'POINT (' || {int_str('minx + 10')} || ' ' || {int_str('miny + 5')} || ')'"


def _xy(xe: str, ye: str) -> str:
    return f"{int_str(xe)} || ' ' || {int_str(ye)}"


def _box_sql(x0: str, y0: str, x1: str, y1: str) -> str:
    return (
        f"'POLYGON ((' || {_xy(x0, y0)} || ', ' || {_xy(x1, y0)} || ', ' || "
        f"{_xy(x1, y1)} || ', ' || {_xy(x0, y1)} || ', ' || {_xy(x0, y0)} || '))'"
    )


# general-pair fixtures (r13): the nation box itself, a DIAGONALLY
# offset twin (gap corners (maxx,maxy)->(maxx+3,maxy+4): the UNIQUE
# nearest pair at distance exactly 5; the farthest pair is bl->twin.tr,
# also unique), and an OVERLAPPING twin shifted (5,3) whose shortest
# line is the documented loud NULL but whose max distance still works
_BOX_POLY = _box_sql("minx", "miny", "maxx", "maxy")
_BOX_DIAG = _box_sql(
    "maxx + 3", "maxy + 4", "maxx + 3 + (maxx - minx)", "maxy + 4 + (maxy - miny)"
)
_BOX_OVER = _box_sql("minx + 5", "miny + 3", "maxx + 5", "maxy + 3")
# r14 vertex-witness fixtures (ADVICE r13): a twin sharing EXACTLY the
# (maxx, maxy) corner, and a mixed collection whose isolated POINT
# member sits inside the box while its LINESTRING member is far away
_BOX_TOUCH = _box_sql(
    "maxx", "maxy", "maxx + (maxx - minx)", "maxy + (maxy - miny)"
)
_MIXED_GC_PT = (
    f"'GEOMETRYCOLLECTION (POINT (' || {_xy('minx + 7', 'miny + 2')} || "
    f"'), LINESTRING (' || {_xy('maxx + 20', 'maxy + 20')} || ', ' || "
    f"{_xy('maxx + 25', 'maxy + 20')} || '))'"
)
_PT_OUT = f"'POINT (' || {_xy('maxx + 10', 'miny + 5')} || ')'"
_PT_IN = f"'POINT (' || {_xy('minx + 2', 'miny + 1')} || ')'"

# measure (M) fixtures (r14 continuation, functions/measure_m.py):
# D remeasured 0..10 (corner m = 10·w/t), D remeasured to arc length
# (cut measures land exactly on the requested bounds at micro), and
# the bottom edge measured minx..maxx so a LocateAlong hit's measure
# IS its x position
_DM10 = f"st_addmeasure({_D_IN}, 0.0D, 10.0D)"
_DM_ARC = (
    f"st_addmeasure({_D_IN}, 0.0D,"
    " CAST((maxx - minx) + (maxy - miny) AS DOUBLE))"
)
_BOTTOM_IN = f"'LINESTRING (' || {_PT_BL} || ', ' || {_PT_BR} || ')'"
_DM_X = (
    f"st_addmeasure({_BOTTOM_IN}, CAST(minx AS DOUBLE), CAST(maxx AS DOUBLE))"
)

# trajectory fixtures (M as time): A runs the bottom edge west→east
# over t ∈ [0, 10]; B runs the right edge south→north over the same
# window (closest approach at t* = 10w²/(w²+h²), distance wh/√(w²+h²),
# the right triangle's altitude), a LATE twin overlapping only at the
# instant t = 10 (where both sit on the shared corner — distance 0), a
# NEVER twin with a disjoint time window (loud NULL), and a
# descending-measure line (invalid trajectory)
_TRAJ_A = f"'LINESTRING M (' || {_PT_BL} || ' 0, ' || {_PT_BR} || ' 10)'"
_TRAJ_B = f"'LINESTRING M (' || {_PT_BR} || ' 0, ' || {_PT_TR} || ' 10)'"
_TRAJ_B_LATE = f"'LINESTRING M (' || {_PT_BR} || ' 10, ' || {_PT_TR} || ' 20)'"
_TRAJ_B_NEVER = f"'LINESTRING M (' || {_PT_BR} || ' 20, ' || {_PT_TR} || ' 30)'"
_TRAJ_BAD = f"'LINESTRING M (' || {_PT_BL} || ' 10, ' || {_PT_BR} || ' 0)'"

_MU = "CAST(floor(({v}) * 1000000 + 0.5) AS BIGINT)"


def _mu(v: str) -> str:
    return _MU.format(v=v)


# closed forms shared by both oracle and comments: w, h, t = w + h
_W = "(maxx - minx)"
_H = "(maxy - miny)"
_T = f"({_W} + {_H})"

_Q152_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'interp_mid' AS fam, n_nationkey AS key,
           {_mu(f"CASE WHEN {_T} / 2 <= {_W} THEN minx + {_T} / 2 ELSE maxx END")} AS a,
           {_mu(f"CASE WHEN {_T} / 2 <= {_W} THEN miny ELSE miny + {_T} / 2 - {_W} END")} AS b
    FROM boxes
    UNION ALL
    SELECT 'interp_up' AS fam, n_nationkey AS key,
           {_mu("maxx")} AS a,
           {_mu(f"miny + 0.9 * {_T} - {_W}")} AS b
    FROM boxes
    UNION ALL
    SELECT 'interp_ends' AS fam, n_nationkey AS key,
           {_mu("minx")} AS a, {_mu("maxy")} AS b
    FROM boxes
    UNION ALL
    SELECT 'locate' AS fam, n_nationkey AS key,
           {_mu(f"{_W} / {_T}")} AS a, {_mu(f"10.0 / {_T}")} AS b
    FROM boxes
    UNION ALL
    SELECT 'substr' AS fam, n_nationkey AS key,
           {_mu(f"{_T} / 2")} AS a,
           CASE WHEN 0.75 * {_T} = {_W} THEN 2 ELSE 3 END AS b
    FROM boxes
    UNION ALL
    SELECT 'closest' AS fam, n_nationkey AS key,
           {_mu("minx + 10")} AS a, {_mu("miny")} AS b
    FROM boxes
    UNION ALL
    SELECT 'shortline' AS fam, n_nationkey AS key,
           {_mu("5.0")} AS a, CAST(0 AS BIGINT) AS b
    FROM boxes
    UNION ALL
    SELECT 'areal_closest' AS fam, n_nationkey AS key,
           {_mu("maxx")} AS a, {_mu("miny + 5")} AS b
    FROM boxes
    UNION ALL
    SELECT 'poly_pair' AS fam, n_nationkey AS key,
           {_mu("5.0")} AS a,
           {_mu(f"sqrt((2 * {_W} + 3) * (2 * {_W} + 3) + (2 * {_H} + 4) * (2 * {_H} + 4))")} AS b
    FROM boxes
    UNION ALL
    SELECT 'longline' AS fam, n_nationkey AS key,
           {_mu(f"maxx + 3 + {_W}")} AS a, {_mu(f"maxy + 4 + {_H}")} AS b
    FROM boxes
    UNION ALL
    SELECT 'inside_zero' AS fam, n_nationkey AS key,
           {_mu("0.0")} AS a,
           {_mu(f"sqrt(({_W} - 2) * ({_W} - 2) + ({_H} - 1) * ({_H} - 1))")} AS b
    FROM boxes
    UNION ALL
    SELECT 'overlap_vertex' AS fam, n_nationkey AS key,
           {_mu("minx + 5")} AS a,
           {_mu(f"sqrt(({_W} + 5) * ({_W} + 5) + ({_H} + 3) * ({_H} + 3))")} AS b
    FROM boxes
    UNION ALL
    SELECT 'touch_vertex' AS fam, n_nationkey AS key,
           {_mu("maxx")} AS a, {_mu("maxy")} AS b
    FROM boxes
    UNION ALL
    SELECT 'mixed_member' AS fam, n_nationkey AS key,
           {_mu("minx + 7")} AS a, {_mu("miny + 2")} AS b
    FROM boxes
    UNION ALL
    SELECT 'addm_interp' AS fam, n_nationkey AS key,
           {_mu(f"10 * ({_W} / {_T})")} AS a,
           {_mu(f"((10 * {_W}) / ({_W} * {_W})) * (10 * ({_W} / {_T}))")} AS b
    FROM boxes
    UNION ALL
    SELECT 'lbtw_range' AS fam, n_nationkey AS key,
           {_mu("10.0")} AS a, {_mu("20.0")} AS b
    FROM boxes
    UNION ALL
    SELECT 'lip_pts' AS fam, n_nationkey AS key,
           {_mu(f"minx + {_T} / 2")} AS a, {_mu("maxy")} AS b
    FROM boxes
    UNION ALL
    SELECT 'lip_single' AS fam, n_nationkey AS key,
           {_mu("maxx")} AS a, CAST(4 AS BIGINT) AS b
    FROM boxes
    UNION ALL
    SELECT 'lalong_m' AS fam, n_nationkey AS key,
           {_mu("minx + 12")} AS a, CAST(-1 AS BIGINT) AS b
    FROM boxes
    UNION ALL
    SELECT 'zm_m' AS fam, n_nationkey AS key,
           {_mu("1.0")} AS a, {_mu("7.5")} AS b
    FROM boxes
    UNION ALL
    SELECT 'cpa_t' AS fam, n_nationkey AS key,
           {_mu(f"10 * {_W} * {_W} / ({_W} * {_W} + {_H} * {_H})")} AS a,
           {_mu(f"{_W} * {_H} / sqrt({_W} * {_W} + {_H} * {_H})")} AS b
    FROM boxes
    UNION ALL
    SELECT 'cpa_instant' AS fam, n_nationkey AS key,
           {_mu("0.0")} AS a, CAST(-1 AS BIGINT) AS b
    FROM boxes
    UNION ALL
    SELECT 'cpa_bools' AS fam, n_nationkey AS key,
           CAST(1 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b
    FROM boxes
    UNION ALL
    SELECT 'cpa_valid' AS fam, n_nationkey AS key,
           CAST(1 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b
    FROM boxes
    UNION ALL
    SELECT 'lcd' AS fam, n_nationkey AS key,
           CAST(465 AS BIGINT) AS a, CAST(-3 AS BIGINT) AS b
    FROM boxes
    UNION ALL
    SELECT 'sea' AS fam, n_nationkey AS key,
           CAST(1 AS BIGINT) AS a, CAST(1 AS BIGINT) AS b
    FROM boxes
"""


@query("q152_st_linear_referencing", oracle=_Q152_ORACLE)
def q152_st_linear_referencing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 linear referencing: interpolate / locate / substring /
    closest-point / shortest-line over the integer L-path, every
    expected value a SQL closed form compared micro-int (module
    docstring)."""
    boxes = nation_boxes(spark, sf_dir)

    # r17 optimization: each fam() is one branch of a single-analysis
    # SQL UNION ALL (see _sql_fixtures.sql_union_rows) instead of a
    # per-branch unionByName fold — same rows, same columns, same
    # branch order, one plan analysis and one fixture scan.
    def fam(name: str, a_expr: str, b_expr: str) -> str:
        return (
            f"'{name}' AS fam, n_nationkey AS key, "
            f"{a_expr} AS a, {b_expr} AS b"
        )

    interp_mid = fam(
        "interp_mid",
        _mu(f"st_x(st_lineinterpolatepoint({_D_IN}, 0.5))"),
        _mu(f"st_y(st_lineinterpolatepoint({_D_IN}, 0.5))"),
    )
    interp_up = fam(
        "interp_up",
        _mu(f"st_x(st_lineinterpolatepoint({_D_IN}, 0.9))"),
        _mu(f"st_y(st_lineinterpolatepoint({_D_IN}, 0.9))"),
    )
    interp_ends = fam(
        "interp_ends",
        _mu(f"st_x(st_lineinterpolatepoint({_D_IN}, 0.0))"),
        _mu(f"st_y(st_lineinterpolatepoint({_D_IN}, 1.0))"),
    )
    locate = fam(
        "locate",
        _mu(f"st_linelocatepoint({_D_IN}, {_CORNER_PT})"),
        _mu(f"st_linelocatepoint({_D_IN}, {_PROBE_PT})"),
    )
    substr = fam(
        "substr",
        _mu(f"st_length(st_linesubstring({_D_IN}, 0.25, 0.75))"),
        f"CAST(st_numpoints(st_linesubstring({_D_IN}, 0.25, 0.75)) AS BIGINT)",
    )
    closest = fam(
        "closest",
        _mu(f"st_x(st_closestpoint({_D_IN}, {_PROBE_PT}))"),
        _mu(f"st_y(st_closestpoint({_D_IN}, {_PROBE_PT}))"),
    )
    shortline = fam(
        "shortline",
        _mu(f"st_length(st_shortestline({_D_IN}, {_PROBE_PT}))"),
        "CAST(0 AS BIGINT)",
    )
    # general-pair families (r13, module fixtures comment): areal left
    # side, polygon x polygon nearest/farthest, point-inside zero line,
    # and the overlapping-pair loud NULL (max distance still defined)
    areal_closest = fam(
        "areal_closest",
        _mu(f"st_x(st_closestpoint({_BOX_POLY}, {_PT_OUT}))"),
        _mu(f"st_y(st_closestpoint({_BOX_POLY}, {_PT_OUT}))"),
    )
    poly_pair = fam(
        "poly_pair",
        _mu(f"st_length(st_shortestline({_BOX_POLY}, {_BOX_DIAG}))"),
        _mu(f"st_maxdistance({_BOX_POLY}, {_BOX_DIAG})"),
    )
    longline = fam(
        "longline",
        _mu(f"st_x(st_endpoint(st_longestline({_BOX_POLY}, {_BOX_DIAG})))"),
        _mu(f"st_y(st_endpoint(st_longestline({_BOX_POLY}, {_BOX_DIAG})))"),
    )
    inside_zero = fam(
        "inside_zero",
        _mu(f"st_length(st_shortestline({_BOX_POLY}, {_PT_IN}))"),
        _mu(f"st_maxdistance({_BOX_POLY}, {_PT_IN})"),
    )
    # r14 (ADVICE r13): intersecting pairs with a pinnable VERTEX
    # witness return it (PostGIS returns a shared point) — the
    # overlapping twin's first serialized vertex (minx+5, miny+3) lies
    # inside the box; the corner-touching twin shares exactly
    # (maxx, maxy); a mixed collection's isolated point member on the
    # box is the witness. Only vertex-free contacts (segment-interior
    # crossings / overlaps with no vertex on the other operand) remain
    # the documented loud NULL.
    overlap_vertex = fam(
        "overlap_vertex",
        _mu(f"st_x(st_closestpoint({_BOX_POLY}, {_BOX_OVER}))"),
        _mu(f"st_maxdistance({_BOX_POLY}, {_BOX_OVER})"),
    )
    touch_vertex = fam(
        "touch_vertex",
        _mu(f"st_x(st_closestpoint({_BOX_POLY}, {_BOX_TOUCH}))"),
        _mu(f"st_y(st_endpoint(st_shortestline({_BOX_POLY}, {_BOX_TOUCH})))"),
    )
    mixed_member = fam(
        "mixed_member",
        _mu(f"st_x(st_closestpoint({_MIXED_GC_PT}, {_BOX_POLY}))"),
        _mu(f"st_y(st_closestpoint({_MIXED_GC_PT}, {_BOX_POLY}))"),
    )
    # measure (M) families (r14 continuation, functions/measure_m.py):
    # AddMeasure's corner/probe measures mirror the engine's float
    # expression term for term; LocateBetween's cut measures land on
    # the requested bounds; the plural interpolate points reuse the
    # interp_mid closed form; LocateAlong on the x-measured bottom
    # edge pins a hit (and a COALESCEd miss); Zmflag/ST_M constants.
    addm_interp = fam(
        "addm_interp",
        _mu(f"st_interpolatepoint({_DM10}, {_CORNER_PT})"),
        _mu(f"st_interpolatepoint({_DM10}, {_PROBE_PT})"),
    )
    lbtw_range = fam(
        "lbtw_range",
        _mu(f"st_mmin(st_locatebetween({_DM_ARC}, 10.0D, 20.0D))"),
        _mu(f"st_mmax(st_locatebetween({_DM_ARC}, 10.0D, 20.0D))"),
    )
    lip_pts = fam(
        "lip_pts",
        _mu(
            "st_x(st_geometryn("
            f"st_lineinterpolatepoints({_D_IN}, 0.25D, true), 2))"
        ),
        _mu(
            "st_y(st_geometryn("
            f"st_lineinterpolatepoints({_D_IN}, 0.25D, true), 4))"
        ),
    )
    lip_single = fam(
        "lip_single",
        _mu(f"st_x(st_lineinterpolatepoints({_D_IN}, 0.9D, false))"),
        (
            "CAST(st_numgeometries("
            f"st_lineinterpolatepoints({_D_IN}, 0.25D, true)) AS BIGINT)"
        ),
    )
    lalong_m = fam(
        "lalong_m",
        _mu(
            f"st_mmin(st_locatealong({_DM_X}, CAST(minx + 12 AS DOUBLE)))"
        ),
        (
            "COALESCE("
            + _mu(f"st_mmin(st_locatealong({_DM_X}, CAST(maxx + 5 AS DOUBLE)))")
            + ", CAST(-1 AS BIGINT))"
        ),
    )
    zm_m = fam(
        "zm_m",
        _mu(f"CAST(st_zmflag({_DM10}) AS DOUBLE)"),
        _mu("st_m('POINT M (1 2 7.5)')"),
    )
    # trajectory (M-as-time) families — module fixtures comment
    cpa_t = fam(
        "cpa_t",
        _mu(f"st_closestpointofapproach({_TRAJ_A}, {_TRAJ_B})"),
        _mu(f"st_distancecpa({_TRAJ_A}, {_TRAJ_B})"),
    )
    cpa_instant = fam(
        "cpa_instant",
        _mu(f"st_distancecpa({_TRAJ_A}, {_TRAJ_B_LATE})"),
        (
            "COALESCE("
            + _mu(f"st_closestpointofapproach({_TRAJ_A}, {_TRAJ_B_NEVER})")
            + ", CAST(-1 AS BIGINT))"
        ),
    )
    cpa_bools = fam(
        "cpa_bools",
        f"CAST(CASE WHEN st_cpawithin({_TRAJ_A}, {_TRAJ_B}, 1000.0D) THEN 1 ELSE 0 END AS BIGINT)",
        f"CAST(CASE WHEN st_cpawithin({_TRAJ_A}, {_TRAJ_B}, 1.0D) THEN 1 ELSE 0 END AS BIGINT)",
    )
    cpa_valid = fam(
        "cpa_valid",
        f"CAST(CASE WHEN st_isvalidtrajectory({_TRAJ_A}) THEN 1 ELSE 0 END AS BIGINT)",
        f"CAST(CASE WHEN st_isvalidtrajectory({_TRAJ_BAD}) THEN 1 ELSE 0 END AS BIGINT)",
    )
    # ST_LineCrossingDirection (r15, functions/crossing.py): B over the
    # east-running bottom edge — upward = LEFT (-1), downward = RIGHT
    # (+1), parallel = 0, packed as (code+5) digits -> 465; the
    # up-over-down double cross is balanced-first-LEFT -> -3
    _lcd_a = (
        f"'LINESTRING (' || {int_str('minx')} || ' ' || {int_str('miny')} ||"
        f" ', ' || {int_str('maxx')} || ' ' || {int_str('miny')} || ')'"
    )

    def _bseg(x1, y1, x2, y2):
        return (
            f"'LINESTRING (' || {int_str(x1)} || ' ' || {int_str(y1)} ||"
            f" ', ' || {int_str(x2)} || ' ' || {int_str(y2)} || ')'"
        )

    _b_up = _bseg("minx + 1", "miny - 1", "minx + 1", "miny + 1")
    _b_dn = _bseg("minx + 1", "miny + 1", "minx + 1", "miny - 1")
    _b_par = _bseg("minx", "miny + 5", "maxx", "miny + 5")
    _b_updown = (
        f"'LINESTRING (' || {int_str('minx + 1')} || ' ' || {int_str('miny - 1')} ||"
        f" ', ' || {int_str('minx + 1')} || ' ' || {int_str('miny + 1')} ||"
        f" ', ' || {int_str('minx + 2')} || ' ' || {int_str('miny + 1')} ||"
        f" ', ' || {int_str('minx + 2')} || ' ' || {int_str('miny - 1')} || ')'"
    )
    # ST_SetEffectiveArea (r15, functions/effective_area.py): the
    # one-interior-vertex tent has effective area 2 exactly; endpoints
    # carry PostGIS's FLT_MAX pin; non-lineal input is loud
    _sea_in = (
        f"'LINESTRING (' || {int_str('minx')} || ' ' || {int_str('miny')} ||"
        f" ', ' || {int_str('minx + 2')} || ' ' || {int_str('miny + 1')} ||"
        f" ', ' || {int_str('minx + 4')} || ' ' || {int_str('miny')} || ')'"
    )
    sea = fam(
        "sea",
        "CAST(CASE WHEN st_seteffectivearea('POINT (1 1)') IS NULL THEN 1"
        " ELSE 0 END AS BIGINT)",
        f"CAST(CASE WHEN st_seteffectivearea({_sea_in}) ="
        f" 'LINESTRING M (' || {int_str('minx')} || ' ' || {int_str('miny')} ||"
        f" ' 340282346638528859811704183484516925440, ' || {int_str('minx + 2')} || ' ' || {int_str('miny + 1')} ||"
        f" ' 2, ' || {int_str('minx + 4')} || ' ' || {int_str('miny')} ||"
        f" ' 340282346638528859811704183484516925440)' THEN 1 ELSE 0 END AS BIGINT)",
    )
    lcd = fam(
        "lcd",
        f"CAST((st_linecrossingdirection({_lcd_a}, {_b_up}) + 5) * 100"
        f" + (st_linecrossingdirection({_lcd_a}, {_b_dn}) + 5) * 10"
        f" + (st_linecrossingdirection({_lcd_a}, {_b_par}) + 5) AS BIGINT)",
        f"CAST(st_linecrossingdirection({_lcd_a}, {_b_updown}) AS BIGINT)",
    )
    return sql_union_rows(boxes, [
        interp_mid,
        interp_up, interp_ends, locate, substr, closest, shortline,
        areal_closest, poly_pair, longline, inside_zero, overlap_vertex,
        touch_vertex, mixed_member, addm_interp, lbtw_range, lip_pts,
        lip_single, lalong_m, zm_m, cpa_t, cpa_instant, cpa_bools,
        cpa_valid, lcd, sea,
    ])
