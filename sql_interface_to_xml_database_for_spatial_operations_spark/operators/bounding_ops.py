"""Driver row for the bounding family (functions/bounding.py):
ST_MinimumBoundingCircle / ST_MinimumBoundingRadius /
ST_OrientedEnvelope — PostGIS names the reference forwards verbatim
(F12, src/index.ts:44-63).

Oracle design over the integer nation boxes:

- ``mbr_radius``: the minimum circle of a rectangle passes through two
  opposite corners → r = √(w²+h²)/2.
- ``mbc_area``: the circle polygon is the inscribed 48-gon, so its
  area is the closed form ½·48·r²·sin(2π/48) = 6(w²+h²)·sin(π/24).
- ``mbc_point``: radius-0 input → the point itself (PostGIS).
- ``mbr_line``: bottom edge → r = w/2.
- ``oriented_diamond``: the rotated square inscribed in the box corner
  (vertices at the +10/+20 offsets) IS its own minimum-area rectangle
  → area 200 for every box.
- ``oriented_axis``: an axis-aligned box is its own oriented envelope
  → area w·h.
- ``oriented_line``: collinear input → the degenerate hull LINESTRING
  echoed (string-built exactly).

All areas/radii compare as micro-ints.

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


_BOX = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)
_BL_POINT = sql_concat("'POINT ('", CORNERS["bl"], "')'")
_BOTTOM = sql_concat("'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "')'")
_DIAMOND = sql_concat(
    "'POLYGON (('", _pt("minx + 10", "miny"), "', '", _pt("minx + 20", "miny + 10"),
    "', '", _pt("minx + 10", "miny + 20"), "', '", _pt("minx", "miny + 10"),
    "', '", _pt("minx + 10", "miny"), "'))'",
)

_FAMILIES = {
    "mbr_radius": _micro(f"st_minimumboundingradius({_BOX})"),
    "mbc_area": _micro(f"st_area(st_minimumboundingcircle({_BOX}))"),
    "mbc_point": f"st_minimumboundingcircle({_BL_POINT})",
    "mbr_line": _micro(f"st_minimumboundingradius({_BOTTOM})"),
    "oriented_diamond": _micro(f"st_area(st_orientedenvelope({_DIAMOND}))"),
    "oriented_axis": _micro(f"st_area(st_orientedenvelope({_BOX}))"),
    "oriented_line": f"st_orientedenvelope({_BOTTOM})",
}

_W, _H = "(maxx - minx)", "(maxy - miny)"
_R2 = f"(({_W}) * ({_W}) + ({_H}) * ({_H}))"
_ORACLE_VALS = {
    "mbr_radius": _micro(f"sqrt({_R2}) / 2.0"),
    "mbc_area": _micro(f"6.0 * {_R2} * sin(pi() / 24.0)"),
    "mbc_point": _BL_POINT,
    "mbr_line": _micro(f"{_W} / 2.0"),
    "oriented_diamond": "'200000000'",
    "oriented_axis": _micro(f"{_W} * {_H}"),
    "oriented_line": _BOTTOM,
}

_Q159_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _ORACLE_VALS.items()
)


@query("q159_st_bounding", oracle=_Q159_ORACLE)
def q159_st_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 bounding family: Welzl minimum enclosing circles and
    rotating-calipers oriented envelopes with closed-form oracles
    (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)
