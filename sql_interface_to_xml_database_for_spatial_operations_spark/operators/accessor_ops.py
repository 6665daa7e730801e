"""Driver rows for the geometry accessor / closure / boundary family
(functions/accessors.py) — reference F12 surface (src/index.ts:44-63
forwards every PostGIS-accepted scalar).

Oracle design (the q149 idiom): nation-box coordinates are integers,
so every input WKT and every expected output WKT/count is
string-buildable in BOTH engines — the oracle is exact, no float
compare anywhere. Fixtures per nation:

- ``D``    — the open L-path  bl → br → tr  (3 vertices).
- ``ring`` — the box boundary as a closed LINESTRING.
- ``bow``  — a self-crossing closed bowtie (bl → tr → br → tl → bl).
- ``M``    — MULTILINESTRING of the bottom and top edges.
- ``M2``   — MULTILINESTRING of two chained edges sharing ``br``
  (exercises the SQL/MM mod-2 boundary rule: the shared endpoint
  cancels).
- ``P``    — the box polygon with a unit-square hole at
  (minx+1, miny+1).

q150 exercises the element accessors (NumGeometries / GeometryN /
NumPoints / PointN incl. negative index / StartPoint / EndPoint /
ExteriorRing / NumInteriorRings / InteriorRingN, plus the
LINESTRING-only NULL contract of NumPoints on a polygon). q151
exercises IsClosed / IsRing / IsEmpty and every ST_Boundary shape:
open line → endpoint MULTIPOINT, closed line → MULTIPOINT EMPTY,
single-ring polygon → LINESTRING, holed polygon → MULTILINESTRING,
point → GEOMETRYCOLLECTION EMPTY, chained multiline → mod-2 result.

Scale shape: all map-only pandas UDFs over a 25-row projection —
structure-only walks, no shuffle. New module so spatial_ops.py /
linework_ops.py fingerprints stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, HOLE_CORNERS, HOLE_RING, family_rows, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_PT = {**CORNERS, **HOLE_CORNERS}

_cat = sql_concat


_D_IN = _cat("'LINESTRING ('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"], "')'")
_RING_IN = _cat(
    "'LINESTRING ('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"],
    "', '", _PT["tl"], "', '", _PT["bl"], "')'",
)
_BOW_IN = _cat(
    "'LINESTRING ('", _PT["bl"], "', '", _PT["tr"], "', '", _PT["br"],
    "', '", _PT["tl"], "', '", _PT["bl"], "')'",
)
_M_IN = _cat(
    "'MULTILINESTRING (('", _PT["bl"], "', '", _PT["br"],
    "'), ('", _PT["tl"], "', '", _PT["tr"], "'))'",
)
_M2_IN = _cat(
    "'MULTILINESTRING (('", _PT["bl"], "', '", _PT["br"],
    "'), ('", _PT["br"], "', '", _PT["tr"], "'))'",
)
_HOLE_RING = HOLE_RING
_P_IN = _cat(
    "'POLYGON (('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"],
    "', '", _PT["tl"], "', '", _PT["bl"], "'), ('", _HOLE_RING, "'))'",
)
_BOX_IN = _cat(
    "'POLYGON (('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"],
    "', '", _PT["tl"], "', '", _PT["bl"], "'))'",
)

_POINT_BL = _cat("'POINT ('", _PT["bl"], "')'")

# expected strings (oracle side)
_TOP_EDGE = _cat("'LINESTRING ('", _PT["tl"], "', '", _PT["tr"], "')'")
_RING_WKT = _cat(
    "'LINESTRING ('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"],
    "', '", _PT["tl"], "', '", _PT["bl"], "')'",
)
_HOLE_WKT = _cat("'LINESTRING ('", _HOLE_RING, "')'")
_ENDPTS = _cat("'POINT ('", _PT["bl"], "') | POINT ('", _PT["tr"], "')'")
_BND_D = _cat("'MULTIPOINT ('", _PT["bl"], "', '", _PT["tr"], "')'")
_BND_P = _cat(
    "'MULTILINESTRING (('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"],
    "', '", _PT["tl"], "', '", _PT["bl"], "'), ('", _HOLE_RING, "'))'",
)

_Q150_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'ngeom' AS fam, n_nationkey AS key, '2 | 1 | 0' AS val FROM boxes
    UNION ALL
    SELECT 'geomn' AS fam, n_nationkey AS key, {_TOP_EDGE} AS val FROM boxes
    UNION ALL
    SELECT 'pointn' AS fam, n_nationkey AS key,
           {_cat("'POINT ('", _PT["br"], "') | POINT ('", _PT["tr"], "') | NULL'")} AS val
    FROM boxes
    UNION ALL
    SELECT 'endpoints' AS fam, n_nationkey AS key, {_ENDPTS} AS val FROM boxes
    UNION ALL
    SELECT 'numpoints' AS fam, n_nationkey AS key, '3 | NULL' AS val FROM boxes
    UNION ALL
    SELECT 'extring' AS fam, n_nationkey AS key, {_RING_WKT} AS val FROM boxes
    UNION ALL
    SELECT 'intring' AS fam, n_nationkey AS key,
           {_cat("'1 | '", _HOLE_WKT)} AS val
    FROM boxes
"""


@query("q150_st_accessors", oracle=_Q150_ORACLE)
def q150_st_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 element accessors over integer nation-box fixtures: every
    expected value string-built in both engines (module docstring).
    NULL sentinels pin the LINESTRING-only / out-of-range → NULL
    contracts inside the same rows."""
    return family_rows(nation_boxes(spark, sf_dir), {
        "ngeom": f"CAST(st_numgeometries({_M_IN}) AS STRING) || ' | ' || "
                 f"CAST(st_numgeometries({_BOX_IN}) AS STRING) || ' | ' || "
                 "CAST(st_numgeometries('POLYGON EMPTY') AS STRING)",
        "geomn": f"st_geometryn({_M_IN}, 2)",
        "pointn": f"st_pointn({_D_IN}, 2) || ' | ' || st_pointn({_D_IN}, -1)"
                  f" || ' | ' || coalesce(st_pointn({_D_IN}, 4), 'NULL')",
        "endpoints": f"st_startpoint({_D_IN}) || ' | ' || st_endpoint({_D_IN})",
        "numpoints": f"CAST(st_numpoints({_D_IN}) AS STRING) || ' | ' || "
                     f"coalesce(CAST(st_numpoints({_BOX_IN}) AS STRING), 'NULL')",
        "extring": f"st_exteriorring({_P_IN})",
        "intring": f"CAST(st_numinteriorrings({_P_IN}) AS STRING) || ' | ' || "
                   f"st_interiorringn({_P_IN}, 1)",
    })


_Q151_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'isclosed' AS fam, n_nationkey AS key,
           'true | false | true' AS val FROM boxes
    UNION ALL
    SELECT 'isring' AS fam, n_nationkey AS key,
           'true | false | false' AS val FROM boxes
    UNION ALL
    SELECT 'isempty' AS fam, n_nationkey AS key, 'true | false' AS val FROM boxes
    UNION ALL
    SELECT 'bnd_line' AS fam, n_nationkey AS key, {_BND_D} AS val FROM boxes
    UNION ALL
    SELECT 'bnd_ring' AS fam, n_nationkey AS key, 'MULTIPOINT EMPTY' AS val
    FROM boxes
    UNION ALL
    SELECT 'bnd_poly' AS fam, n_nationkey AS key, {_RING_WKT} AS val FROM boxes
    UNION ALL
    SELECT 'bnd_holed' AS fam, n_nationkey AS key, {_BND_P} AS val FROM boxes
    UNION ALL
    SELECT 'bnd_point' AS fam, n_nationkey AS key,
           'GEOMETRYCOLLECTION EMPTY' AS val FROM boxes
    UNION ALL
    SELECT 'bnd_mod2' AS fam, n_nationkey AS key, {_BND_D} AS val FROM boxes
"""


@query("q151_st_boundary", oracle=_Q151_ORACLE)
def q151_st_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 closure predicates + ST_Boundary over the same integer
    fixtures: IsClosed (ring/open/point), IsRing (simple ring vs
    crossing bowtie vs open), IsEmpty, and all six boundary output
    shapes incl. the SQL/MM mod-2 cancellation of a shared chain
    endpoint (module docstring)."""
    return family_rows(nation_boxes(spark, sf_dir), {
        "isclosed": f"CAST(st_isclosed({_RING_IN}) AS STRING) || ' | ' || "
                    f"CAST(st_isclosed({_D_IN}) AS STRING) || ' | ' || "
                    f"CAST(st_isclosed({_POINT_BL}) AS STRING)",
        "isring": f"CAST(st_isring({_RING_IN}) AS STRING) || ' | ' || "
                  f"CAST(st_isring({_BOW_IN}) AS STRING) || ' | ' || "
                  f"CAST(st_isring({_D_IN}) AS STRING)",
        "isempty": "CAST(st_isempty('POLYGON EMPTY') AS STRING) || ' | ' || "
                   f"CAST(st_isempty({_P_IN}) AS STRING)",
        "bnd_line": f"st_boundary({_D_IN})",
        "bnd_ring": f"st_boundary({_RING_IN})",
        "bnd_poly": f"st_boundary({_BOX_IN})",
        "bnd_holed": f"st_boundary({_P_IN})",
        "bnd_point": f"st_boundary({_POINT_BL})",
        "bnd_mod2": f"st_boundary({_M2_IN})",
    })
