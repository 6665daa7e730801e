"""Driver row for ST_LineMerge / ST_Reverse (functions/linework.py) —
reference F12 surface (src/index.ts:44-63 forwards every
PostGIS-accepted scalar).

Oracle design: nation-box coordinates are integers, so every input and
expected output WKT is string-buildable in both engines. Four families
per nation exercise the distinct merge behaviors deterministically
(the merge walk starts from the first part and extends forward, so the
output vertex order is a pure function of the input part order):

- ``ring``  — the box's four edges in ring order merge into ONE closed
  LINESTRING (all nodes degree 2, cycle case).
- ``chain`` — bottom + right edge plus a far-away lone segment: an
  open two-edge chain plus the untouched lone part.
- ``tee``   — three segments meeting at one degree-3 node must NOT
  merge (PostGIS leaves T-junctions split).
- ``rev``   — ST_Reverse of the merged ring, exact reversed walk.

Scale shape: both UDFs are map-only; the row is a projection pipeline
over the nation scan. New module so spatial_ops.py / overlay_ops.py
fingerprints stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._sql_fixtures import CORNERS, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


_PT = {
    **CORNERS,
    # lone segment well outside any box (box coords are >= -180, < 500)
    "l0": "'1000 1000'",
    "l1": "'1001 1001'",
    # tee hub and arms
    "h": CORNERS["bl"],
    "a1": f"{int_str('minx + 1')} || ' ' || {int_str('miny')}",
    "a2": f"{int_str('minx')} || ' ' || {int_str('miny + 1')}",
    "a3": f"{int_str('minx - 1')} || ' ' || {int_str('miny')}",
}

_sql_concat = sql_concat


_RING_IN = _sql_concat(
    "'MULTILINESTRING (('", _PT["bl"], "', '", _PT["br"],
    "'), ('", _PT["br"], "', '", _PT["tr"],
    "'), ('", _PT["tr"], "', '", _PT["tl"],
    "'), ('", _PT["tl"], "', '", _PT["bl"], "'))'",
)
_RING_OUT = _sql_concat(
    "'LINESTRING ('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"],
    "', '", _PT["tl"], "', '", _PT["bl"], "')'",
)
_RING_REV = _sql_concat(
    "'LINESTRING ('", _PT["bl"], "', '", _PT["tl"], "', '", _PT["tr"],
    "', '", _PT["br"], "', '", _PT["bl"], "')'",
)
_CHAIN_IN = _sql_concat(
    "'MULTILINESTRING (('", _PT["bl"], "', '", _PT["br"],
    "'), ('", _PT["br"], "', '", _PT["tr"],
    "'), ('", _PT["l0"], "', '", _PT["l1"], "'))'",
)
_CHAIN_OUT = _sql_concat(
    "'MULTILINESTRING (('", _PT["bl"], "', '", _PT["br"], "', '", _PT["tr"],
    "'), ('", _PT["l0"], "', '", _PT["l1"], "'))'",
)
_TEE_IN = _sql_concat(
    "'MULTILINESTRING (('", _PT["h"], "', '", _PT["a1"],
    "'), ('", _PT["h"], "', '", _PT["a2"],
    "'), ('", _PT["h"], "', '", _PT["a3"], "'))'",
)

_Q149_ORACLE = f"""
    WITH boxes AS ({NATION_BOXES_SQL})
    SELECT 'ring' AS fam, n_nationkey AS key, {_RING_OUT} AS merged
    FROM boxes
    UNION ALL
    SELECT 'rev' AS fam, n_nationkey AS key, {_RING_REV} AS merged
    FROM boxes
    UNION ALL
    SELECT 'chain' AS fam, n_nationkey AS key, {_CHAIN_OUT} AS merged
    FROM boxes
    UNION ALL
    SELECT 'tee' AS fam, n_nationkey AS key, {_TEE_IN} AS merged
    FROM boxes
"""


@query("q149_st_linework", oracle=_Q149_ORACLE)
def q149_st_linework(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 linework: ST_LineMerge over the ring/chain/tee families and
    ST_Reverse over the merged ring, every expected WKT string-built
    from the integer nation-box coordinates (module docstring)."""
    boxes = nation_boxes(spark, sf_dir)
    ring = boxes.select(
        F.lit("ring").alias("fam"),
        F.col("n_nationkey").alias("key"),
        F.expr(f"st_linemerge({_RING_IN})").alias("merged"),
    )
    rev = boxes.select(
        F.lit("rev").alias("fam"),
        F.col("n_nationkey").alias("key"),
        F.expr(f"st_reverse(st_linemerge({_RING_IN}))").alias("merged"),
    )
    chain = boxes.select(
        F.lit("chain").alias("fam"),
        F.col("n_nationkey").alias("key"),
        F.expr(f"st_linemerge({_CHAIN_IN})").alias("merged"),
    )
    tee = boxes.select(
        F.lit("tee").alias("fam"),
        F.col("n_nationkey").alias("key"),
        F.expr(f"st_linemerge({_TEE_IN})").alias("merged"),
    )
    return ring.unionByName(rev).unionByName(chain).unionByName(tee)
