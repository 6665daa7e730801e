"""Driver row for ST_Node / ST_Polygonize (functions/noding.py) —
reference F12 (src/index.ts:44-63 forwards both to PostGIS): linework
topology, the step before the validity/overlay machinery.

Oracle design: piece ORDER in noded output is implementation-defined,
so the families pin order-free invariants with integer closed forms —
piece counts (st_numgeometries), exact length conservation
(noding only splits, so total length is invariant; micro-int), face
counts and exact face-area totals (a ring plus a crossing chord
bounds two faces totalling the box area; nested rings produce the
ring-with-hole plus the island whose areas SUM back to the outer
area; a dangling spike bounds nothing and changes nothing).

Scale shape: map-only pandas UDFs over 25-row projections; unionByName
of per-family projections of one scan.
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


_RING = sql_concat(
    "'('", CORNERS["bl"], "', '", CORNERS["br"], "', '", CORNERS["tr"],
    "', '", CORNERS["tl"], "', '", CORNERS["bl"], "')'",
)
# horizontal chord at miny+10 crossed by a vertical at minx+15: the
# crossing point (minx+15, miny+10) is integer for every box
_HORIZ = sql_concat(
    "'('", _pt("minx", "miny + 10"), "', '", _pt("maxx", "miny + 10"), "')'"
)
_VERT = sql_concat(
    "'('", _pt("minx + 15", "miny"), "', '", _pt("minx + 15", "maxy"), "')'"
)
_VERT_TEE = sql_concat(  # vertical that only TOUCHES the horizontal
    "'('", _pt("minx + 15", "miny + 10"), "', '", _pt("minx + 15", "maxy"), "')'"
)
_INNER_RING = sql_concat(
    "'('", _pt("minx + 8", "miny + 8"), "', '", _pt("minx + 14", "miny + 8"),
    "', '", _pt("minx + 14", "miny + 14"), "', '", _pt("minx + 8", "miny + 14"),
    "', '", _pt("minx + 8", "miny + 8"), "')'",
)
_SPIKE = sql_concat(
    "'('", _pt("minx + 2", "miny + 2"), "', '", _pt("minx + 5", "miny + 5"), "')'"
)


def _ml(*parts: str) -> str:
    joined: list[str] = []
    for i, p in enumerate(parts):
        if i:
            joined.append("', '")
        joined.append(p)
    return sql_concat("'MULTILINESTRING ('", *joined, "')'")


_FAMILIES = {
    # two crossing chords split into 4 pieces; total length conserved
    "node_cross_n": f"CAST(st_numgeometries(st_node({_ml(_HORIZ, _VERT)})) AS STRING)",
    "node_cross_len": _micro(f"st_length(st_node({_ml(_HORIZ, _VERT)}))"),
    # T-contact: 3 pieces
    "node_tee_n": f"CAST(st_numgeometries(st_node({_ml(_HORIZ, _VERT_TEE)})) AS STRING)",
    # interior vertices that touch nothing stay interior: 1 piece
    "node_chain_n": f"CAST(st_numgeometries(st_node({_ml(_SPIKE)})) AS STRING)",
    # ring + full-width chord: two faces totalling the box area
    "poly_grid_n": f"CAST(st_numgeometries(st_polygonize({_ml(_RING, _HORIZ)})) AS STRING)",
    "poly_grid_area": _micro(f"st_area(st_polygonize({_ml(_RING, _HORIZ)}))"),
    # nested rings: ring-with-hole + island, areas SUM to the box area
    "poly_nested_n": f"CAST(st_numgeometries(st_polygonize({_ml(_RING, _INNER_RING)})) AS STRING)",
    "poly_nested_area": _micro(
        f"st_area(st_polygonize({_ml(_RING, _INNER_RING)}))"
    ),
    # dangling spike bounds nothing: one face, area unchanged
    "poly_dangle_n": f"CAST(st_numgeometries(st_polygonize({_ml(_RING, _SPIKE)})) AS STRING)",
    "poly_dangle_area": _micro(f"st_area(st_polygonize({_ml(_RING, _SPIKE)}))"),
    # lineal-only surface: polygon input is a loud NULL
    "non_lineal": sql_concat(
        "COALESCE(st_node('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'), 'NULL(non-lineal)')"
    ),
}

_W, _H = "(maxx - minx)", "(maxy - miny)"
_ORACLE_VALS = {
    "node_cross_n": "'4'",
    "node_cross_len": _micro(f"{_W} + {_H}"),
    "node_tee_n": "'3'",
    "node_chain_n": "'1'",
    "poly_grid_n": "'2'",
    "poly_grid_area": _micro(f"{_W} * {_H}"),
    "poly_nested_n": "'2'",
    "poly_nested_area": _micro(f"{_W} * {_H}"),
    "poly_dangle_n": "'1'",
    "poly_dangle_area": _micro(f"{_W} * {_H}"),
    "non_lineal": "'NULL(non-lineal)'",
}

_Q164_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _ORACLE_VALS.items()
)


@query("q164_st_node_polygonize", oracle=_Q164_ORACLE)
def q164_st_node_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 linework topology: full exact noding (piece counts + length
    conservation) and half-edge polygonization (face counts + exact
    area totals incl. the nested-ring island and dangle stripping);
    non-lineal operands stay loud NULL (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)
