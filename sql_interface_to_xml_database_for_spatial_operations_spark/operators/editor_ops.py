"""Driver row for the geometry editor family (functions/editors.py) —
reference F12 surface (src/index.ts:44-63).

Oracle design (the q149/q150 idiom): every input and expected WKT is
string-built from integer nation-box coordinates in BOTH engines, so
the oracle is exact. Families per nation:

- ``addpt``   — append (pos −1) and insert-at-1 both reconstruct the
  L-path bl → br → tr, plus an out-of-range NULL sentinel.
- ``setpt``   — replace the first vertex (idx 0) and the last
  (idx −1, the negative-from-end rule).
- ``rmpt``    — drop the middle vertex, plus the would-leave-one-point
  NULL sentinel on a 2-vertex line.
- ``flip``    — ST_FlipCoordinates of the L-path: every expected pair
  string-built swapped (y x).
- ``segm``    — ST_Segmentize of the bottom edge with
  max_len = w/3 (w ∈ {30,45,60} is always divisible by 3, and the
  interpolation ``a + (b−a)·i/n`` is IEEE-exact for these integer
  splits) → the 4-vertex thirds line.
- ``expand``  — ST_Expand(POINT bl, 5) → the integer box polygon in
  the engine's envelope ring order.

Scale shape: all map-only pandas UDFs over the 25-row nation
projection — zero Exchange (plan-asserted with the q150 family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_BL, _BR, _TR, _TL = CORNERS["bl"], CORNERS["br"], CORNERS["tr"], CORNERS["tl"]
_cat = sql_concat

_EDGE_IN = _cat("'LINESTRING ('", _BL, "', '", _BR, "')'")
_DIAG_IN = _cat("'LINESTRING ('", _BL, "', '", _TR, "')'")
_D_IN = _cat("'LINESTRING ('", _BL, "', '", _BR, "', '", _TR, "')'")
_PT_BR = _cat("'POINT ('", _BR, "')'")
_PT_TR = _cat("'POINT ('", _TR, "')'")
_PT_TL = _cat("'POINT ('", _TL, "')'")
_PT_BL = _cat("'POINT ('", _BL, "')'")

_L_WKT = _D_IN  # the reconstructed L-path IS the engine input fixture
_SET0 = _cat("'LINESTRING ('", _TL, "', '", _BR, "', '", _TR, "')'")
_SETLAST = _cat("'LINESTRING ('", _BL, "', '", _BR, "', '", _TL, "')'")
_RM_WKT = _DIAG_IN  # removing the corner leaves the diagonal fixture

# flipped (y x) coordinate pairs of bl / br / tr
_FBL = f"{int_str('miny')} || ' ' || {int_str('minx')}"
_FBR = f"{int_str('miny')} || ' ' || {int_str('maxx')}"
_FTR = f"{int_str('maxy')} || ' ' || {int_str('maxx')}"
_FLIP_WKT = _cat("'LINESTRING ('", _FBL, "', '", _FBR, "', '", _FTR, "')'")

# thirds of the bottom edge (w divisible by 3 for every box)
_T1 = f"{int_str('minx + (maxx - minx) / 3')} || ' ' || {int_str('miny')}"
_T2 = f"{int_str('minx + 2 * (maxx - minx) / 3')} || ' ' || {int_str('miny')}"
_SEGM_WKT = _cat(
    "'LINESTRING ('", _BL, "', '", _T1, "', '", _T2, "', '", _BR, "')'"
)

# POINT bl expanded by 5, in the engine's envelope ring order
_E = {
    "bl": f"{int_str('minx - 5')} || ' ' || {int_str('miny - 5')}",
    "br": f"{int_str('minx + 5')} || ' ' || {int_str('miny - 5')}",
    "tr": f"{int_str('minx + 5')} || ' ' || {int_str('miny + 5')}",
    "tl": f"{int_str('minx - 5')} || ' ' || {int_str('miny + 5')}",
}
_EXPAND_WKT = _cat(
    "'POLYGON (('", _E["bl"], "', '", _E["br"], "', '", _E["tr"],
    "', '", _E["tl"], "', '", _E["bl"], "'))'",
)

_Q153_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'addpt' AS fam, n_nationkey AS key,
           {_cat(_L_WKT, "' | '", _L_WKT, "' | NULL'")} AS val
    FROM boxes
    UNION ALL
    SELECT 'setpt' AS fam, n_nationkey AS key,
           {_cat(_SET0, "' | '", _SETLAST)} AS val
    FROM boxes
    UNION ALL
    SELECT 'rmpt' AS fam, n_nationkey AS key,
           {_cat(_RM_WKT, "' | NULL'")} AS val
    FROM boxes
    UNION ALL
    SELECT 'flip' AS fam, n_nationkey AS key, {_FLIP_WKT} AS val FROM boxes
    UNION ALL
    SELECT 'segm' AS fam, n_nationkey AS key, {_SEGM_WKT} AS val FROM boxes
    UNION ALL
    SELECT 'expand' AS fam, n_nationkey AS key, {_EXPAND_WKT} AS val FROM boxes
"""


@query("q153_st_editors", oracle=_Q153_ORACLE)
def q153_st_editors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 geometry editors: AddPoint (append / insert / out-of-range
    NULL), SetPoint (idx 0 and −1), RemovePoint (middle vertex /
    too-short NULL), FlipCoordinates, Segmentize into exact thirds, and
    Expand — every expected WKT string-built from integer box
    coordinates (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), {
        "addpt": f"st_addpoint({_EDGE_IN}, {_PT_TR}, -1) || ' | ' || "
                 f"st_addpoint({_DIAG_IN}, {_PT_BR}, 1) || ' | ' || "
                 f"coalesce(st_addpoint({_EDGE_IN}, {_PT_TR}, 5), 'NULL')",
        "setpt": f"st_setpoint({_D_IN}, 0, {_PT_TL}) || ' | ' || "
                 f"st_setpoint({_D_IN}, -1, {_PT_TL})",
        "rmpt": f"st_removepoint({_D_IN}, 1) || ' | ' || "
                f"coalesce(st_removepoint({_EDGE_IN}, 0), 'NULL')",
        "flip": f"st_flipcoordinates({_D_IN})",
        "segm": f"st_segmentize({_EDGE_IN}, (maxx - minx) / 3)",
        "expand": f"st_expand({_PT_BL}, 5)",
    })
