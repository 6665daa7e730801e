"""Driver row for the constructor + general-affine family
(functions/constructors.py, functions/affine.py st_affine) —
reference F12 surface (src/index.ts:44-63).

Oracle design (the q149/q150/q153 idiom): every input and expected WKT
is string-built from integer nation-box coordinates in BOTH engines.
Families per nation:

- ``makeline``  — point+point → the diagonal, line+point → the L-path,
  plus an areal-argument NULL sentinel.
- ``makepoly``  — closed box ring → the box POLYGON, with-holes form →
  the holed polygon, open-shell NULL sentinel.
- ``affine90``  — ST_Affine(g, 0, −1, 1, 0, 0, 0) is an EXACT 90° CCW
  rotation on integer coordinates (the transcendental-free form of
  what ST_Rotate(π/2) can only approximate): (x, y) → (−y, x),
  expected WKT string-built with negated/swapped coordinates.
- ``affine_st`` — scale-then-translate as one matrix
  (a=2, e=3, xoff=1, yoff=2): (x, y) → (2x+1, 3y+2), exact integers,
  and pinned equal to the composed
  st_translate(st_scale(g, 2, 3), 1, 2) — the special-case functions
  and the general matrix cannot drift apart.

Scale shape: map-only pandas UDFs over the 25-row nation projection —
zero Exchange (plan-asserted with the q150 family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, HOLE_RING, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_BL, _BR, _TR, _TL = CORNERS["bl"], CORNERS["br"], CORNERS["tr"], CORNERS["tl"]
_cat = sql_concat

_PT_BL = _cat("'POINT ('", _BL, "')'")
_PT_TR = _cat("'POINT ('", _TR, "')'")
_EDGE_IN = _cat("'LINESTRING ('", _BL, "', '", _BR, "')'")
_DIAG_WKT = _cat("'LINESTRING ('", _BL, "', '", _TR, "')'")
_L_WKT = _cat("'LINESTRING ('", _BL, "', '", _BR, "', '", _TR, "')'")
_RING_IN = _cat(
    "'LINESTRING ('", _BL, "', '", _BR, "', '", _TR, "', '", _TL, "', '", _BL, "')'"
)
_HOLE_IN = _cat("'LINESTRING ('", HOLE_RING, "')'")
_BOX_WKT = _cat(
    "'POLYGON (('", _BL, "', '", _BR, "', '", _TR, "', '", _TL, "', '", _BL, "'))'"
)
_HOLED_WKT = _cat(
    "'POLYGON (('", _BL, "', '", _BR, "', '", _TR, "', '", _TL, "', '", _BL,
    "'), ('", HOLE_RING, "'))'",
)

# (x, y) -> (-y, x): 90 deg CCW, exact on integer coordinates
_R_BL = f"{int_str('-miny')} || ' ' || {int_str('minx')}"
_R_BR = f"{int_str('-miny')} || ' ' || {int_str('maxx')}"
_R_TR = f"{int_str('-maxy')} || ' ' || {int_str('maxx')}"
_ROT_WKT = _cat("'LINESTRING ('", _R_BL, "', '", _R_BR, "', '", _R_TR, "')'")

# (x, y) -> (2x+1, 3y+2)
_S_BL = f"{int_str('2 * minx + 1')} || ' ' || {int_str('3 * miny + 2')}"
_S_BR = f"{int_str('2 * maxx + 1')} || ' ' || {int_str('3 * miny + 2')}"
_S_TR = f"{int_str('2 * maxx + 1')} || ' ' || {int_str('3 * maxy + 2')}"
_ST_WKT = _cat("'LINESTRING ('", _S_BL, "', '", _S_BR, "', '", _S_TR, "')'")

_Q154_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'makeline' AS fam, n_nationkey AS key,
           {_cat(_DIAG_WKT, "' | '", _L_WKT, "' | NULL'")} AS val
    FROM boxes
    UNION ALL
    SELECT 'makepoly' AS fam, n_nationkey AS key,
           {_cat(_BOX_WKT, "' | '", _HOLED_WKT, "' | NULL'")} AS val
    FROM boxes
    UNION ALL
    SELECT 'affine90' AS fam, n_nationkey AS key, {_ROT_WKT} AS val FROM boxes
    UNION ALL
    SELECT 'affine_st' AS fam, n_nationkey AS key,
           {_cat(_ST_WKT, "' | '", _ST_WKT)} AS val
    FROM boxes
"""


@query("q154_st_constructors", oracle=_Q154_ORACLE)
def q154_st_constructors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 constructors + general affine: MakeLine (point/line/areal-NULL
    forms), MakePolygon (shell / with-holes / open-NULL), exact
    integer-matrix 90° ST_Affine, and the scale-translate matrix pinned
    equal to the composed st_translate∘st_scale (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), {
        "makeline": f"st_makeline({_PT_BL}, {_PT_TR}) || ' | ' || "
                    f"st_makeline({_EDGE_IN}, {_PT_TR}) || ' | ' || "
                    f"coalesce(st_makeline({_BOX_WKT}, {_PT_TR}), 'NULL')",
        "makepoly": f"st_makepolygon({_RING_IN}) || ' | ' || "
                    f"st_makepolygon_holes({_RING_IN}, array({_HOLE_IN}))"
                    f" || ' | ' || coalesce(st_makepolygon({_L_WKT}), 'NULL')",
        "affine90": f"st_affine({_L_WKT}, 0, -1, 1, 0, 0, 0)",
        "affine_st": f"st_affine({_L_WKT}, 2, 0, 0, 3, 1, 2) || ' | ' || "
                     f"st_translate(st_scale({_L_WKT}, 2, 3), 1, 2)",
    })
