"""Driver row for the collection family (functions/collection_fns.py):
ST_Collect (scalar), ST_Multi, and ST_Dump as the explodable
``st_dumpparts`` array (reference F12, src/index.ts:44-63).

Oracle design: every expected WKT string-builds from the integer
nation-box corners — the Multi-kind promotion rules, the
GEOMETRYCOLLECTION fallback for mixed kinds, PostGIS's NULL-operand
echo, ST_Multi idempotence, and the recursive dump through a nested
collection (array compared via size and a '|' join).

Scale shape: map-only pandas UDFs over 25-row projections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, family_rows, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


def _pt(xe: str, ye: str) -> str:
    return f"{int_str(xe)} || ' ' || {int_str(ye)}"


_BL = sql_concat("'POINT ('", CORNERS["bl"], "')'")
_TR = sql_concat("'POINT ('", CORNERS["tr"], "')'")
_BOTTOM = sql_concat("'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "')'")
_BOX = sql_concat(
    "'POLYGON (('", CORNERS["bl"], "', '", CORNERS["br"], "', '",
    CORNERS["tr"], "', '", CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)
_RING = sql_concat(
    CORNERS["bl"], "', '", CORNERS["br"], "', '", CORNERS["tr"],
    "', '", CORNERS["tl"], "', '", CORNERS["bl"],
)
_INNER_RING = sql_concat(
    _pt("minx + 8", "miny + 8"), "', '", _pt("minx + 14", "miny + 8"),
    "', '", _pt("minx + 14", "miny + 14"), "', '", _pt("minx + 8", "miny + 14"),
    "', '", _pt("minx + 8", "miny + 8"),
)
_MP2 = sql_concat(
    "'MULTIPOLYGON ((('", _RING, "')), (('", _INNER_RING, "')))'",
)
_GC_NESTED = sql_concat(
    "'GEOMETRYCOLLECTION (POINT ('", CORNERS["bl"],
    "'), MULTIPOINT ('", CORNERS["br"], "', '", CORNERS["tr"], "'))'",
)

_FAMILIES = {
    "collect_pts": f"st_collect({_BL}, {_TR})",
    "collect_mixed": f"st_collect({_BL}, {_BOTTOM})",
    "collect_null": f"st_collect(CAST(NULL AS STRING), {_BL})",
    "multi_poly": f"st_multi({_BOX})",
    "multi_idem": f"st_multi(st_multi({_BOX}))",
    "dump_n": f"CAST(size(st_dumpparts({_GC_NESTED})) AS STRING)",
    "dump_join": f"array_join(st_dumpparts({_MP2}), '|')",
    # r15 continuation: the AGGREGATE forms (fn(collect_list(...)) —
    # the st_union_all idiom) over array() literals so the member
    # order is pinned without a window
    "agg_collect": f"st_collect_all(array({_BL}, {_TR}, {_BOTTOM}))",
    "agg_makeline": f"st_makeline_all(array({_BL}, {_BOTTOM}, {_TR}))",
    "agg_polygonize": (
        "st_normalize(st_polygonize_all(array("
        + sql_concat("'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"],
                     "', '", CORNERS["tr"], "')'")
        + ", "
        + sql_concat("'LINESTRING ('", CORNERS["tr"], "', '", CORNERS["tl"],
                     "', '", CORNERS["bl"], "')'")
        + ")))"
    ),
    "agg_nulls": (
        "COALESCE(st_collect_all(CAST(NULL AS ARRAY<STRING>)), 'N') || "
        f"COALESCE(st_makeline_all(array({_BOX})), 'N') || "
        "COALESCE(st_polygonize_all(array('POINT (1 1)')), 'N')"
    ),
    # window-form clustering (functions/cluster_window.py): ids are
    # array positions — deterministic first-k-distinct k-means seeding
    # and the q160 DBSCAN conventions (min-core-position labels,
    # border -> min adjacent label, noise NULL -> 'N')
    "agg_kmeans": (
        "array_join(transform(st_clusterkmeans_all(array("
        f"{_BL}, 'POINT (' || {_pt('minx + 1', 'miny')} || ')', "
        f"{_TR}, 'POINT (' || {_pt('maxx - 1', 'maxy')} || ')'), 2), "
        "x -> CAST(x AS STRING)), ',')"
    ),
    "agg_dbscan": (
        "array_join(transform(st_clusterdbscan_all(array("
        f"{_BL}, 'POINT (' || {_pt('minx + 1', 'miny')} || ')', "
        f"'POINT (' || {_pt('minx + 2', 'miny')} || ')', {_TR}), "
        "CAST(2 AS DOUBLE), 3), "
        "x -> COALESCE(CAST(x AS STRING), 'N')), ',')"
    ),
}

_ORACLE_VALS = {
    "collect_pts": sql_concat(
        "'MULTIPOINT ('", CORNERS["bl"], "', '", CORNERS["tr"], "')'"
    ),
    "collect_mixed": sql_concat(
        "'GEOMETRYCOLLECTION (POINT ('", CORNERS["bl"],
        "'), LINESTRING ('", CORNERS["bl"], "', '", CORNERS["br"], "'))'",
    ),
    "collect_null": _BL,
    "multi_poly": sql_concat("'MULTIPOLYGON ((('", _RING, "')))'"),
    "multi_idem": sql_concat("'MULTIPOLYGON ((('", _RING, "')))'"),
    "dump_n": "'3'",
    "dump_join": sql_concat(
        "'POLYGON (('", _RING, "'))|POLYGON (('", _INNER_RING, "'))'"
    ),
    "agg_collect": sql_concat(
        "'GEOMETRYCOLLECTION (POINT ('", CORNERS["bl"], "'), POINT ('",
        CORNERS["tr"], "'), LINESTRING ('", CORNERS["bl"], "', '",
        CORNERS["br"], "'))'",
    ),
    "agg_makeline": sql_concat(
        "'LINESTRING ('", CORNERS["bl"], "', '", CORNERS["bl"], "', '",
        CORNERS["br"], "', '", CORNERS["tr"], "')'",
    ),
    "agg_polygonize": sql_concat(
        "'GEOMETRYCOLLECTION (POLYGON (('", CORNERS["bl"], "', '",
        CORNERS["br"], "', '", CORNERS["tr"], "', '", CORNERS["tl"],
        "', '", CORNERS["bl"], "')))'",
    ),
    "agg_nulls": "'NNN'",
    "agg_kmeans": "'0,0,1,1'",
    "agg_dbscan": "'0,0,0,N'",
}

_Q161_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{fam}' AS fam, n_nationkey AS key, {val} AS val"
    f" FROM ({NATION_BOXES_SQL})"
    for fam, val in _ORACLE_VALS.items()
)


@query("q161_st_collect_dump", oracle=_Q161_ORACLE)
def q161_st_collect_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 collection family: scalar ST_Collect promotion rules,
    ST_Multi idempotent promotion, and ST_Dump's recursive part
    decomposition via the explodable st_dumpparts array (module
    docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), _FAMILIES)
