"""Driver row for the SQL/MM 3-D surface suite (functions/surface3d.py,
r15). The reference forwards PostGIS names verbatim (src/index.ts:44-63);
PostGIS via SFCGAL accepts POLYHEDRALSURFACE / TIN / TRIANGLE for
ST_NumPatches / ST_PatchN / ST_3DArea / ST_Volume / ST_IsClosed — any
CityGML / BIM / LiDAR-mesh import hits them on day one.

Fixture: an axis-aligned box hung on each nation's integer corner with
CLOSED-FORM dimensions — a = 1 + k%4 and h = 1 + k%3 give a
(2a × a × h) box, so volume = 2a²h and surface area = 4a² + 6ah are
exact BIGINTs. Every ``a`` column is such a closed form (or a packed
predicate digit code); every ``b`` column is a byte-exact WKT string
both engines build from the same integer coordinates:

- ``vol``: ST_Volume of the closed box (= 2a²h) + ST_PatchN(box, 2)
  echoing the top patch as POLYGON Z.
- ``area``: ST_3DArea of the box (= 4a² + 6ah) + ST_PatchN(box, 1).
- ``closed``: packed code — IsClosed(box), IsClosed(open box missing
  one face), Volume(open) IS NULL (open surfaces bound no solid) —
  expects 101; + ST_PatchN(open, 5).
- ``tin``: ST_3DArea of the two-triangle TIN over the box bottom
  (= 2a²) × 10 + ST_NumPatches (= 2) packed as 10·area + n; +
  ST_PatchN(tin, 2) echoing a TRIANGLE Z.
- ``tri``: ST_3DArea of the 3a-4a TRIANGLE (= 6a²) + the open box's
  back patch.
- ``wall``: ST_3DArea of the slanted vertical 3-4-5 wall polygon
  (width 5a, height h → = 5ah) + ST_PatchN(box, 6).
- ``x3d``: ST_3DIntersects packed code — integer-point crossing
  (true), skew pair (false), point-on-segment (true), 1e-9 near-miss
  settled by the EXACT path (false) — expects 1010; +
  ST_PatchN(tin, 1).
- ``ext``: ST_Extrude of the 2a × a base rectangle by (0, 0, h) —
  a = 10·ST_Volume + IsClosed (= 20a²h + 1: the constructed mesh is
  consistently oriented and watertight); b = ST_PatchN(…, 2), the
  translated top face, byte-identical to the box fixture's top patch.
- ``tsl``: ST_Tesselate of the same base — a = 10·ST_3DArea +
  ST_NumPatches (= 20a² + 2, the ear-clip triangulation); b =
  ST_PatchN(…, 1), the ear clipper's first triangle (v3, v0, v1) as a
  2-D TRIANGLE.

Scale shape: map-only Arrow-batched pandas UDFs over the 25-row
nation projection — no shuffle. New module so zcoord_ops.py /
grid_ops.py fingerprints stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._sql_fixtures import int_str, sql_union_rows
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_K = "n_nationkey"
_A = f"(1 + {_K} % 4)"  # box is 2a wide, a deep
_H = f"(1 + {_K} % 3)"  # box height

_X0 = "minx"
_X1 = f"minx + 2 * {_A}"
_Y0 = "miny"
_Y1 = f"miny + {_A}"


def _xyz(x: str, y: str, z: str) -> str:
    return f"{int_str(x)} || ' ' || {int_str(y)} || ' ' || {int_str(z)}"


def _ring(pts) -> str:
    return "'(' || " + " || ', ' || ".join(_xyz(*p) for p in pts) + " || ')'"


def _patch(pts) -> str:
    return "'(' || " + _ring(pts) + " || ')'"


# the CUBE patch ordering of tests/test_surface3d.py, scaled — each
# undirected edge appears in exactly two patches (closed mesh)
_PATCHES = [
    [(_X0, _Y0, "0"), (_X0, _Y1, "0"), (_X1, _Y1, "0"), (_X1, _Y0, "0"), (_X0, _Y0, "0")],
    [(_X0, _Y0, _H), (_X1, _Y0, _H), (_X1, _Y1, _H), (_X0, _Y1, _H), (_X0, _Y0, _H)],
    [(_X0, _Y0, "0"), (_X1, _Y0, "0"), (_X1, _Y0, _H), (_X0, _Y0, _H), (_X0, _Y0, "0")],
    [(_X1, _Y0, "0"), (_X1, _Y1, "0"), (_X1, _Y1, _H), (_X1, _Y0, _H), (_X1, _Y0, "0")],
    [(_X1, _Y1, "0"), (_X0, _Y1, "0"), (_X0, _Y1, _H), (_X1, _Y1, _H), (_X1, _Y1, "0")],
    [(_X0, _Y1, "0"), (_X0, _Y0, "0"), (_X0, _Y0, _H), (_X0, _Y1, _H), (_X0, _Y1, "0")],
]

_BOX = (
    "'POLYHEDRALSURFACE Z (' || "
    + " || ', ' || ".join(_patch(p) for p in _PATCHES)
    + " || ')'"
)
_OPEN = (  # the same box missing its last (left) face — not closed
    "'POLYHEDRALSURFACE Z (' || "
    + " || ', ' || ".join(_patch(p) for p in _PATCHES[:5])
    + " || ')'"
)

_T1 = [(_X0, _Y0, "0"), (_X1, _Y0, "0"), (_X0, _Y1, "0"), (_X0, _Y0, "0")]
_T2 = [(_X1, _Y0, "0"), (_X1, _Y1, "0"), (_X0, _Y1, "0"), (_X1, _Y0, "0")]
_TIN = f"'TIN Z (' || {_patch(_T1)} || ', ' || {_patch(_T2)} || ')'"

_TRI = (
    "'TRIANGLE Z (' || "
    + _ring(
        [
            (_X0, _Y0, "0"),
            (f"minx + 3 * {_A}", _Y0, "0"),
            (_X0, f"miny + 4 * {_A}", "0"),
            (_X0, _Y0, "0"),
        ]
    )
    + " || ')'"
)

_WALL = (
    "'POLYGON Z (' || "
    + _ring(
        [
            (_X0, _Y0, "0"),
            (f"minx + 3 * {_A}", f"miny + 4 * {_A}", "0"),
            (f"minx + 3 * {_A}", f"miny + 4 * {_A}", _H),
            (_X0, _Y0, _H),
            (_X0, _Y0, "0"),
        ]
    )
    + " || ')'"
)

# 3-D intersect fixtures: A crosses B1 at the integer point
# (x0, y0, a); B2 is skew (z offset +1 at the xy coincidence); the
# near-miss point hangs 1e-9 above A's midpoint — inside the float
# guard, settled False by the exact Fraction path
_SEG_A = (
    f"'LINESTRING Z (' || {_xyz(f'minx - {_A}', f'miny - {_A}', '0')} || ', ' || "
    f"{_xyz(f'minx + {_A}', f'miny + {_A}', f'2 * {_A}')} || ')'"
)
_SEG_B1 = (
    f"'LINESTRING Z (' || {_xyz(f'minx + {_A}', f'miny - {_A}', f'2 * {_A}')} || ', ' || "
    f"{_xyz(f'minx - {_A}', f'miny + {_A}', '0')} || ')'"
)
_SEG_B2 = (
    f"'LINESTRING Z (' || {_xyz(f'minx + {_A}', f'miny - {_A}', f'2 * {_A} + 1')} || ', ' || "
    f"{_xyz(f'minx - {_A}', f'miny + {_A}', '1')} || ')'"
)
_PT_ON = f"'POINT Z (' || {_xyz('minx', 'miny', _A)} || ')'"
_PT_NEAR = (
    f"'POINT Z (' || {int_str('minx')} || ' ' || {int_str('miny')} || ' ' || "
    f"{int_str(_A)} || '.000000001)'"
)

# expected b-column WKT (the same text both engines assemble)
_B_TOP = f"'POLYGON Z (' || {_ring(_PATCHES[1])} || ')'"
_B_BOTTOM = f"'POLYGON Z (' || {_ring(_PATCHES[0])} || ')'"
_B_BACK = f"'POLYGON Z (' || {_ring(_PATCHES[4])} || ')'"
_B_LEFT = f"'POLYGON Z (' || {_ring(_PATCHES[5])} || ')'"
_B_TRI1 = f"'TRIANGLE Z (' || {_ring(_T1)} || ')'"
_B_TRI2 = f"'TRIANGLE Z (' || {_ring(_T2)} || ')'"

# M / ZM surface FIXTURES (r17, VERDICT r16 task 4): the SAME box /
# TIN shapes with a measure slot — M width-3 points reuse the z-slot
# text under the M tag (geometry must then use z = 0), ZM appends the
# key-derived measure to every vertex. The FAMILIES that consume these
# live on q186_st_worked_examples (geo_fn_ops.py) for row-cost
# budgeting; the codec itself is pinned in tests/test_surface3d.py
_M = f"({_K} % 7)"


def _xyzm(x: str, y: str, z: str) -> str:
    return f"{_xyz(x, y, z)} || ' ' || {int_str(_M)}"


def _ring4(pts) -> str:
    return "'(' || " + " || ', ' || ".join(_xyzm(*p) for p in pts) + " || ')'"


def _patch4(pts) -> str:
    return "'(' || " + _ring4(pts) + " || ')'"


_TIN_M = f"'TIN M (' || {_patch(_T1)} || ', ' || {_patch(_T2)} || ')'"
_BOX_ZM = (
    "'POLYHEDRALSURFACE ZM (' || "
    + " || ', ' || ".join(_patch4(p) for p in _PATCHES)
    + " || ')'"
)
_B_TRI2_M = f"'TRIANGLE M (' || {_ring(_T2)} || ')'"
_B_BOTTOM_ZM = f"'POLYGON ZM (' || {_ring4(_PATCHES[0])} || ')'"
# mtin: 10·area(z=0) + zmflag(M) = 10·2a² + 1
_MTIN_CODE = f"CAST(10 * 2 * {_A} * {_A} + 1 AS BIGINT)"
# zmps: 10·volume + zmflag(ZM) = 10·2a²h + 3
_ZMPS_CODE = f"CAST(10 * 2 * {_A} * {_A} * {_H} + 3 AS BIGINT)"
# mwkb: 1000·ndims(ZM rt) + 100·zmflag(ZM rt) + 10·ndims(M rt) + zmflag(M rt)
_MWKB_CODE = "CAST(4331 AS BIGINT)"

_VOL = f"CAST(2 * {_A} * {_A} * {_H} AS BIGINT)"
_AREA = f"CAST(4 * {_A} * {_A} + 6 * {_A} * {_H} AS BIGINT)"
_TIN_CODE = f"CAST(10 * 2 * {_A} * {_A} + 2 AS BIGINT)"
_TRI_AREA = f"CAST(6 * {_A} * {_A} AS BIGINT)"
_WALL_AREA = f"CAST(5 * {_A} * {_H} AS BIGINT)"

_BASE_2D = (
    "'POLYGON ((' || "
    + " || ', ' || ".join(
        f"{int_str(x)} || ' ' || {int_str(y)}"
        for x, y in [(_X0, _Y0), (_X1, _Y0), (_X1, _Y1), (_X0, _Y1), (_X0, _Y0)]
    )
    + " || '))'"
)
_B_TSL1 = (
    "'TRIANGLE ((' || "
    + " || ', ' || ".join(
        f"{int_str(x)} || ' ' || {int_str(y)}"
        for x, y in [(_X0, _Y1), (_X0, _Y0), (_X1, _Y0), (_X0, _Y1)]
    )
    + " || '))'"
)
_EXT_CODE = f"CAST(20 * {_A} * {_A} * {_H} + 1 AS BIGINT)"
_TSL_CODE = f"CAST(20 * {_A} * {_A} + 2 AS BIGINT)"

_Q178_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'vol' AS fam, n_nationkey AS key, {_VOL} AS a, {_B_TOP} AS b
    FROM boxes
    UNION ALL
    SELECT 'area' AS fam, n_nationkey AS key, {_AREA} AS a, {_B_BOTTOM} AS b
    FROM boxes
    UNION ALL
    SELECT 'closed' AS fam, n_nationkey AS key,
           CAST(101 AS BIGINT) AS a, {_B_BACK} AS b
    FROM boxes
    UNION ALL
    SELECT 'tin' AS fam, n_nationkey AS key, {_TIN_CODE} AS a, {_B_TRI2} AS b
    FROM boxes
    UNION ALL
    SELECT 'tri' AS fam, n_nationkey AS key, {_TRI_AREA} AS a, {_B_BACK} AS b
    FROM boxes
    UNION ALL
    SELECT 'wall' AS fam, n_nationkey AS key, {_WALL_AREA} AS a, {_B_LEFT} AS b
    FROM boxes
    UNION ALL
    SELECT 'wkb3d' AS fam, n_nationkey AS key, {_VOL} AS a, {_TIN} AS b
    FROM boxes
    UNION ALL
    SELECT 'x3d' AS fam, n_nationkey AS key,
           CAST(1010 AS BIGINT) AS a, {_B_TRI1} AS b
    FROM boxes
    UNION ALL
    SELECT 'ext' AS fam, n_nationkey AS key, {_EXT_CODE} AS a, {_B_TOP} AS b
    FROM boxes
    UNION ALL
    SELECT 'tsl' AS fam, n_nationkey AS key, {_TSL_CODE} AS a, {_B_TSL1} AS b
    FROM boxes
"""


@query("q178_st_surface3d", oracle=_Q178_ORACLE)
def q178_st_surface3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYHEDRALSURFACE / TIN / TRIANGLE end to end: patch accessors,
    Newell 3-D area, divergence-theorem volume on the closed box, the
    open-surface fence, and the filtered-exact ST_3DIntersects
    (module docstring fixtures)."""
    boxes = nation_boxes(spark, sf_dir)

    # r17 optimization: each fam() is one branch of a single-analysis
    # SQL UNION ALL (_sql_fixtures.sql_union_rows) instead of a
    # per-branch unionByName fold — same rows/columns/branch order, one
    # plan analysis and one fixture scan.
    def fam(name: str, a_expr: str, b_expr: str) -> str:
        return (
            f"'{name}' AS fam, n_nationkey AS key, "
            f"CAST({a_expr} AS BIGINT) AS a, {b_expr} AS b"
        )

    rows = [fam("vol", f"st_volume({_BOX})", f"st_patchn({_BOX}, 2)")]
    rows.append(
        fam("area", f"st_3darea({_BOX})", f"st_patchn({_BOX}, 1)")
    )
    rows.append(
        fam(
            "closed",
            f"CASE WHEN st_isclosed({_BOX}) THEN 100 ELSE 0 END"
            f" + CASE WHEN st_isclosed({_OPEN}) THEN 10 ELSE 0 END"
            f" + CASE WHEN st_volume({_OPEN}) IS NULL THEN 1 ELSE 0 END",
            f"st_patchn({_OPEN}, 5)",
        )
    )
    rows.append(
        fam(
            "tin",
            f"10 * st_3darea({_TIN}) + st_numpatches({_TIN})",
            f"st_patchn({_TIN}, 2)",
        )
    )
    rows.append(
        fam("tri", f"st_3darea({_TRI})", f"st_patchn({_OPEN}, 5)")
    )
    rows.append(
        fam("wall", f"st_3darea({_WALL})", f"st_patchn({_BOX}, 6)")
    )
    rows.append(
        fam(
            "wkb3d",
            f"st_volume(st_geomfromwkb(st_asbinary({_BOX})))",
            f"st_geomfromwkb(st_asbinary({_TIN}))",
        )
    )
    rows.append(
        fam(
            "x3d",
            f"CASE WHEN st_3dintersects({_SEG_A}, {_SEG_B1}) THEN 1000 ELSE 0 END"
            f" + CASE WHEN st_3dintersects({_SEG_A}, {_SEG_B2}) THEN 100 ELSE 0 END"
            f" + CASE WHEN st_3dintersects({_PT_ON}, {_SEG_A}) THEN 10 ELSE 0 END"
            f" + CASE WHEN st_3dintersects({_PT_NEAR}, {_SEG_A}) THEN 1 ELSE 0 END",
            f"st_patchn({_TIN}, 1)",
        )
    )
    ext = f"st_extrude({_BASE_2D}, 0.0D, 0.0D, CAST({_H} AS DOUBLE))"
    rows.append(
        fam(
            "ext",
            f"10 * st_volume({ext})"
            f" + CASE WHEN st_isclosed({ext}) THEN 1 ELSE 0 END",
            f"st_patchn({ext}, 2)",
        )
    )
    tsl = f"st_tesselate({_BASE_2D})"
    rows.append(
        fam(
            "tsl",
            f"10 * st_3darea({tsl}) + st_numpatches({tsl})",
            f"st_patchn({tsl}, 1)",
        )
    )
    return sql_union_rows(boxes, rows)
