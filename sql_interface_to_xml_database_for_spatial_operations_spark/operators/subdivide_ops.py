"""Driver row for ST_Subdivide (functions/subdivide.py) — reference F12
(src/index.ts:44-63 forwards it to PostGIS); VERDICT r10 item 6: the
standard scale tool for huge-polygon spatial joins.

Oracle design: each nation box is rebuilt as a DENSE rectangle — one
vertex per integer x along the bottom edge (built with Spark's
``sequence``/``transform`` built-ins, no UDF), so w+4 vertices with
w ∈ {30,45,60} — then subdivided with a 12-vertex budget, which forces
at least one envelope split. The exploded pieces aggregate back per
key to three invariants DuckDB can state in closed form:

- ``area_micro``  Σ piece areas = w·h exactly (the clip kernel is the
  exact overlay intersection; micro-int idiom)
- ``max_ok``      max piece vertex count ≤ the budget → 'true'
- ``n_ok``        ≥ 2 pieces (the budget really forced a split) → 'true'

Scale shape: one map-side UDF + explode, one hash aggregation on the
25-key projection — explode fan-out is bounded by the per-row piece
count, and at 100 TB the subdivided pieces are exactly what feeds the
grid-candidate spatial joins (q47/q97) with small bboxes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._sql_fixtures import CORNERS, int_str, sql_concat
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


# dense bottom edge: one vertex every 3 units of x (Spark built-ins
# only — UDFs are not allowed inside higher-order-function lambdas).
# Box widths are 30/45/60, all divisible by 3, so the chain ends
# exactly at maxx: 14-24 vertices, still over the 12-vertex budget.
# Step 3 rather than 1 because every exact clip pays the overlay's
# O(n²)-in-Fractions simplicity gate per recursion level — the unit
# step made this 25-row fixture cost 3.5 s at sf0.1 (bench r11).
_DENSE_BOTTOM = (
    "concat_ws(', ', transform(sequence(CAST(minx AS BIGINT), CAST(maxx AS BIGINT), 3),"
    " x -> CAST(x AS STRING) || ' ' || " + int_str("miny") + "))"
)
_DENSE_BOX = sql_concat(
    "'POLYGON (('", _DENSE_BOTTOM, "', '", CORNERS["tr"], "', '",
    CORNERS["tl"], "', '", CORNERS["bl"], "'))'",
)

_Q162_ORACLE = f"""
SELECT n_nationkey AS key,
       CAST(CAST(floor((maxx - minx) * (maxy - miny) * 1e6 + 0.5) AS BIGINT) AS STRING) AS area_micro,
       'true' AS max_ok,
       'true' AS n_ok
FROM ({NATION_BOXES_SQL})
"""


@query("q162_st_subdivide", oracle=_Q162_ORACLE)
def q162_st_subdivide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 ST_Subdivide: explode the piece array, then pin exact area
    conservation, the vertex budget, and that the budget actually
    forced a split (module docstring)."""
    from pyspark.sql import functions as F

    from ..sources.tables import fan_out

    # fan_out (r18, guide §2.5): the exact-Fraction subdivide kernel ran
    # all 25 boxes in the single-file fixture's one scan task;
    # interleaved A/B at sf0.1: med 1.01 -> 0.79 s. No-op on inputs
    # already >= defaultParallelism files.
    pieces = fan_out(nation_boxes(spark, sf_dir)).selectExpr(
        "n_nationkey AS key",
        f"explode(st_subdivide({_DENSE_BOX}, 12)) AS piece",
    )
    per = pieces.selectExpr(
        "key", "st_area(piece) AS a", "st_npoints(piece) AS np"
    )
    return per.groupBy("key").agg(
        F.expr(
            "CAST(CAST(floor(SUM(a) * 1e6 + 0.5) AS BIGINT) AS STRING)"
        ).alias("area_micro"),
        F.expr("CAST(MAX(np) <= 12 AS STRING)").alias("max_ok"),
        F.expr("CAST(COUNT(*) >= 2 AS STRING)").alias("n_ok"),
    )
