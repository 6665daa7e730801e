"""Driver row for the ST_Translate / ST_Scale / ST_Rotate affine family
(functions/affine.py) — reference F12 surface (src/index.ts:44-63
forwards every PostGIS-accepted scalar).

Oracle design: the three transforms chain over the customer point
fixture — translate by a per-row offset, scale by constants, rotate by
θ = 0.3 rad — and the row reports the final coordinates via the
st_x/st_y accessors. Translate and scale are exact float arithmetic
DuckDB reproduces bit-for-bit; rotation's cos/sin may differ in the
last ulp across libm builds, so coordinates compare micro-int (the
repo-standard idiom; fixture magnitudes ≤ 400, where double noise is
~1e-13 — six orders below the quantum). A box row per nation pins the
POLYGON path (vertex order preserved verbatim) as an exact WKT string
for translate/scale, where the transformed rectangle is
string-buildable in SQL (cast to DOUBLE there — DuckDB's
DECIMAL literal arithmetic would otherwise print trailing zeros the
engine's repr-based serializer never emits).

Scale shape: all three UDFs are map-only per-vertex closed forms — the
whole query is a projection pipeline over the scans, zero Exchange
until the (tiny) final union. New module so spatial_ops.py's verified
fingerprints stay untouched (same rationale as geo_fn_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .spatial_ops import CUSTOMER_POINTS_SQL, NATION_BOXES_SQL, _fmt_sql, customer_points, nation_boxes

THETA = 0.3  # radians


_Q148_ORACLE = f"""
    WITH pts AS ({CUSTOMER_POINTS_SQL}),
    moved AS (
      SELECT c_custkey,
             (lon + c_nationkey) * 2.0 AS sx,
             (lat - 1.5) * 0.5 AS sy
      FROM pts
    )
    SELECT 'point' AS fam, c_custkey AS key,
           CAST(floor((sx * cos(0.3) - sy * sin(0.3)) * 1000000 + 0.5)
                AS BIGINT) AS x_micro,
           CAST(floor((sx * sin(0.3) + sy * cos(0.3)) * 1000000 + 0.5)
                AS BIGINT) AS y_micro,
           CAST(NULL AS VARCHAR) AS wkt
    FROM moved
    UNION ALL
    SELECT 'box' AS fam, n_nationkey AS key,
           CAST(NULL AS BIGINT) AS x_micro,
           CAST(NULL AS BIGINT) AS y_micro,
           'POLYGON ((' || {_fmt_sql("CAST((minx + 10) * 2.0 AS DOUBLE)")} || ' ' || {_fmt_sql("CAST((miny - 5) * 0.5 AS DOUBLE)")} || ', '
                        || {_fmt_sql("CAST((maxx + 10) * 2.0 AS DOUBLE)")} || ' ' || {_fmt_sql("CAST((miny - 5) * 0.5 AS DOUBLE)")} || ', '
                        || {_fmt_sql("CAST((maxx + 10) * 2.0 AS DOUBLE)")} || ' ' || {_fmt_sql("CAST((maxy - 5) * 0.5 AS DOUBLE)")} || ', '
                        || {_fmt_sql("CAST((minx + 10) * 2.0 AS DOUBLE)")} || ' ' || {_fmt_sql("CAST((maxy - 5) * 0.5 AS DOUBLE)")} || ', '
                        || {_fmt_sql("CAST((minx + 10) * 2.0 AS DOUBLE)")} || ' ' || {_fmt_sql("CAST((miny - 5) * 0.5 AS DOUBLE)")} || '))'
             AS wkt
    FROM ({NATION_BOXES_SQL})
"""


@query("q148_st_affine", oracle=_Q148_ORACLE)
def q148_st_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 affine family: translate → scale → rotate chained over the
    customer points (micro-int coordinates), plus translate → scale
    over each nation box pinned as an exact WKT string with vertex
    order preserved (module docstring)."""
    pts = customer_points(spark, sf_dir)
    point_rows = pts.select(
        F.lit("point").alias("fam"),
        F.col("c_custkey").alias("key"),
        F.expr(
            "st_rotate(st_scale(st_translate("
            "st_point(lon, lat), CAST(c_nationkey AS DOUBLE), -1.5D),"
            " 2.0D, 0.5D), 0.3D)"
        ).alias("g"),
    ).select(
        "fam",
        "key",
        F.expr(
            "CAST(floor(st_x(g) * 1000000 + 0.5) AS BIGINT)"
        ).alias("x_micro"),
        F.expr(
            "CAST(floor(st_y(g) * 1000000 + 0.5) AS BIGINT)"
        ).alias("y_micro"),
        F.lit(None).cast("string").alias("wkt"),
    )
    boxes = nation_boxes(spark, sf_dir).withColumn(
        "geom", F.expr("st_makeenvelope(minx, miny, maxx, maxy)")
    )
    box_rows = boxes.select(
        F.lit("box").alias("fam"),
        F.col("n_nationkey").alias("key"),
        F.lit(None).cast("bigint").alias("x_micro"),
        F.lit(None).cast("bigint").alias("y_micro"),
        F.expr("st_scale(st_translate(geom, 10.0D, -5.0D), 2.0D, 0.5D)").alias(
            "wkt"
        ),
    )
    return point_rows.unionByName(box_rows)
