"""Driver row for ST_Split and ST_SharedPaths (functions/split.py) —
PostGIS names the reference forwards verbatim (F12, src/index.ts:44-63).

Oracle design over the integer nation boxes (w ≥ 30, h ≥ 20), order-free
invariants in the q164 style (part order is implementation-defined):

- ``poly_cross``: a vertical blade overshooting the box splits it in
  two; part count '2' and exact area conservation (w·h, micro-int).
- ``poly_partial``: a blade entering but not crossing is a dangle —
  the polygon comes back whole ('1', area w·h).
- ``poly_hole``: box with the unit hole split right of it: '2' faces,
  area w·h − 1 (the hole island face is discarded by the interior
  test, the hole stays attached to its face).
- ``line_pt``: the bottom edge cut at an interior point → '2' pieces,
  length conserved (w).
- ``line_cross``: the bottom edge cut by a vertical blade → '2', w.
- ``pt_miss``: a blade point off the line changes nothing → '1'.
- ``bad_blade``: a polygon blade is unsupported → loud NULL.
- ``sp_same`` / ``sp_opp`` / ``sp_none``: ST_SharedPaths (same module)
  — a sub-segment running along the bottom edge lands in the
  same-direction bucket, its reversal in the opposite bucket, and a
  parallel-but-disjoint line in neither; string-built exactly with the
  PostGIS GEOMETRYCOLLECTION(two MULTILINESTRINGs) shape.

Scale shape: map-only pandas UDFs over 25-row projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, HOLE_RING, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


def _pt(xe: str, ye: str) -> str:
    return f"{int_str(xe)} || ' ' || {int_str(ye)}"


def _micro(expr: str) -> str:
    return f"CAST(CAST(floor(({expr}) * 1e6 + 0.5) AS BIGINT) AS STRING)"


_BOX = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)
_BOX_HOLE = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"],
    "'), ('", HOLE_RING, "'))'",
)
_VBLADE = sql_concat(  # vertical through x = minx+10, overshooting
    "'LINESTRING ('", _pt("minx + 10", "miny - 5"), "', '",
    _pt("minx + 10", "maxy + 5"), "')'",
)
_VPARTIAL = sql_concat(  # enters the box but stops inside
    "'LINESTRING ('", _pt("minx + 10", "miny - 5"), "', '",
    _pt("minx + 10", "miny + 10"), "')'",
)
_BOTTOM = sql_concat("'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "')'")
_CUTPT = sql_concat("'POINT ('", _pt("minx + 10", "miny"), "')'")
_MISSPT = sql_concat("'POINT ('", _pt("minx + 10", "miny + 5"), "')'")
_XBLADE = sql_concat(
    "'LINESTRING ('", _pt("minx + 15", "miny - 5"), "', '",
    _pt("minx + 15", "miny + 5"), "')'",
)
_SUBSEG = sql_concat(  # runs ALONG the bottom edge, same direction
    "'LINESTRING ('", _pt("minx + 5", "miny"), "', '",
    _pt("minx + 20", "miny"), "')'",
)
_SUBSEG_REV = sql_concat(
    "'LINESTRING ('", _pt("minx + 20", "miny"), "', '",
    _pt("minx + 5", "miny"), "')'",
)
_OFFSEG = sql_concat(  # parallel but disjoint: nothing shared
    "'LINESTRING ('", _pt("minx + 5", "miny + 5"), "', '",
    _pt("minx + 20", "miny + 5"), "')'",
)

_N = "st_numgeometries"
_FAMILIES = {
    "poly_cross_n": int_str(f"{_N}(st_split({_BOX}, {_VBLADE}))"),
    "poly_cross_area": _micro(f"st_area(st_split({_BOX}, {_VBLADE}))"),
    "poly_partial_n": int_str(f"{_N}(st_split({_BOX}, {_VPARTIAL}))"),
    "poly_partial_area": _micro(f"st_area(st_split({_BOX}, {_VPARTIAL}))"),
    "poly_hole_n": int_str(f"{_N}(st_split({_BOX_HOLE}, {_VBLADE}))"),
    "poly_hole_area": _micro(f"st_area(st_split({_BOX_HOLE}, {_VBLADE}))"),
    "line_pt_n": int_str(f"{_N}(st_split({_BOTTOM}, {_CUTPT}))"),
    "line_pt_len": _micro(f"st_length(st_split({_BOTTOM}, {_CUTPT}))"),
    "line_cross_n": int_str(f"{_N}(st_split({_BOTTOM}, {_XBLADE}))"),
    "line_cross_len": _micro(f"st_length(st_split({_BOTTOM}, {_XBLADE}))"),
    "pt_miss_n": int_str(f"{_N}(st_split({_BOTTOM}, {_MISSPT}))"),
    "bad_blade": sql_concat(
        f"COALESCE(st_split({_BOTTOM}, {_BOX}), 'NULL(bad-blade)')"
    ),
    "sp_same": f"st_sharedpaths({_BOTTOM}, {_SUBSEG})",
    "sp_opp": f"st_sharedpaths({_BOTTOM}, {_SUBSEG_REV})",
    "sp_none": f"st_sharedpaths({_BOTTOM}, {_OFFSEG})",
}

_W, _H = "(maxx - minx)", "(maxy - miny)"
_ORACLE_VALS = {
    "poly_cross_n": "'2'",
    "poly_cross_area": _micro(f"{_W} * {_H}"),
    "poly_partial_n": "'1'",
    "poly_partial_area": _micro(f"{_W} * {_H}"),
    "poly_hole_n": "'2'",
    "poly_hole_area": _micro(f"{_W} * {_H} - 1"),
    "line_pt_n": "'2'",
    "line_pt_len": _micro(_W),
    "line_cross_n": "'2'",
    "line_cross_len": _micro(_W),
    "pt_miss_n": "'1'",
    "bad_blade": "'NULL(bad-blade)'",
    "sp_same": sql_concat(
        "'GEOMETRYCOLLECTION (MULTILINESTRING (('",
        _pt("minx + 5", "miny"), "', '", _pt("minx + 20", "miny"),
        "')), MULTILINESTRING EMPTY)'",
    ),
    "sp_opp": sql_concat(
        "'GEOMETRYCOLLECTION (MULTILINESTRING EMPTY, MULTILINESTRING (('",
        _pt("minx + 5", "miny"), "', '", _pt("minx + 20", "miny"),
        "')))'",
    ),
    "sp_none": (
        "'GEOMETRYCOLLECTION (MULTILINESTRING EMPTY, "
        "MULTILINESTRING EMPTY)'"
    ),
}

_Q166_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _ORACLE_VALS.items()
)


@query("q166_st_split", oracle=_Q166_ORACLE)
def q166_st_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 ST_Split: exact cross-noding line cuts and half-edge face
    splits with conservation oracles (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)
