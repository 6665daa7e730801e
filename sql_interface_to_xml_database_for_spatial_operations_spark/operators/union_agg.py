"""ST_Union aggregate driver query (F12 remainder, VERDICT r4 item 5).

``functions/union_ops.py`` holds the dissolve; this module registers the
driver-checkable aggregate query over the nation-box fixture
(spatial_ops.nation_boxes — overlapping, touching, and duplicated
axis-aligned boxes, so the dissolve is non-trivial in every group).

Scale shape — PostGIS "cascaded union" as map-side partial aggregation:

1. ``mapInPandas`` unions each *partition's* boxes per group key first,
   so the shuffle carries one partial geometry (plus its input count)
   per (partition, group) instead of one row per geometry. At 100 TB
   this is the difference between shuffling the dataset and shuffling
   ~(#partitions × #groups) rows.
2. ``groupBy(key).agg(collect_list(partial))`` then one
   ``st_union_all`` call dissolves the partials per group. The final
   union input is bounded by the partition count, not the data size.
3. Metrics (area / perimeter / bbox) come from the single union WKT via
   the vectorized spatial UDFs.

Oracle: exact grid decomposition in DuckDB SQL — compress each group's
box corners into x/y intervals, mark a cell covered when some box spans
it, then union area = Σ covered-cell areas and perimeter = Σ covered-cell
edges whose neighbor cell is uncovered (computed with self-joins on the
aligned intervals). Every value is sums/products of integer-valued
doubles, so both sides are bit-exact; what is actually under test is the
rectilinear dissolve's ring tracing (area wrong if cells are mis-merged,
perimeter wrong if rings are mis-traced, e.g. a dropped hole shows up as
missing perimeter but unchanged bbox).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._sql_fixtures import poly_sql
from .registry import query
from .spatial_ops import NATION_BOXES_SQL, nation_boxes


# Dissolved-union family (VERDICT r11 item 3): a concave "notched roof"
# pentagon A overlapped by square B, anchored at each region's min
# corner. Hand-derived dissolved boundary (tests/test_dissolve.py pins
# the same shape at the kernel level): the union is ONE polygon whose
# ring picks up B's sides between the notch crossings (minx+6, miny+6)
# and (minx+2, miny+6) — areas: A 48, B 16, A∩B 4, union 60.
_A_SQL = poly_sql(((0, 0), (8, 0), (8, 8), (4, 4), (0, 8), (0, 0)))
_B_SQL = poly_sql(((2, 4), (6, 4), (6, 8), (2, 8), (2, 4)))
_DISSOLVED_SQL = poly_sql(
    ((0, 0), (8, 0), (8, 8), (6, 6), (6, 8), (2, 8), (2, 6), (0, 8), (0, 0))
)

# The SAME box formulas as every other nation-box query (q44, q122...):
# reusing spatial_ops' definitions keeps this oracle from silently
# de-syncing if the shared fixture arithmetic ever changes.
_BOXES_SQL = f"""
    SELECT n_regionkey AS g, b.minx AS x0, b.miny AS y0,
           b.maxx AS x1, b.maxy AS y1
    FROM ({NATION_BOXES_SQL}) b JOIN nation USING (n_nationkey)
"""


def _partial_union(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-batch per-group partial union (stage 1 of the cascade).

    ``merge_convex=False``: a stage-1 partial only sees its partition's
    slice of the group, so a convex-pair merge here would make the final
    geometry depend on how rows split across partitions (a partial that
    greedily merged two members of a 3-way overlap blocks the global
    decision). Rectilinear dissolve stays (it is closed under union, so
    stage 2 re-dissolves partials exactly); non-rectilinear parts pass
    through for the FINAL union to merge component-wise."""
    from ..functions.union_ops import union_wkts

    for pdf in batches:
        if not len(pdf):
            continue
        agg = pdf.groupby("g")["wkt"].agg(list)
        yield pd.DataFrame(
            {
                "g": agg.index,
                "wkt": [union_wkts(ws, merge_convex=False) for ws in agg.values],
                "n": pdf.groupby("g").size().reindex(agg.index).values,
            }
        )


@query(
    "q124_st_union_agg",
    oracle=f"""
    WITH b AS ({_BOXES_SQL}),
    xs AS (SELECT DISTINCT g, x0 AS x FROM b UNION SELECT DISTINCT g, x1 FROM b),
    xi AS (SELECT g, x AS xa, lead(x) OVER (PARTITION BY g ORDER BY x) AS xb FROM xs),
    ys AS (SELECT DISTINCT g, y0 AS y FROM b UNION SELECT DISTINCT g, y1 FROM b),
    yi AS (SELECT g, y AS ya, lead(y) OVER (PARTITION BY g ORDER BY y) AS yb FROM ys),
    cells AS (
      SELECT xi.g, xa, xb, ya, yb FROM xi JOIN yi ON xi.g = yi.g
      WHERE xb IS NOT NULL AND yb IS NOT NULL
    ),
    cov AS (
      SELECT DISTINCT c.g, c.xa, c.xb, c.ya, c.yb
      FROM cells c JOIN b
        ON b.g = c.g AND b.x0 <= c.xa AND b.x1 >= c.xb
       AND b.y0 <= c.ya AND b.y1 >= c.yb
    ),
    metrics AS (
      SELECT c.g,
             sum((c.xb - c.xa) * (c.yb - c.ya)) AS union_area,
             sum(CASE WHEN w.g IS NULL THEN c.yb - c.ya ELSE 0 END
               + CASE WHEN e.g IS NULL THEN c.yb - c.ya ELSE 0 END
               + CASE WHEN s.g IS NULL THEN c.xb - c.xa ELSE 0 END
               + CASE WHEN n2.g IS NULL THEN c.xb - c.xa ELSE 0 END) AS perimeter
      FROM cov c
      LEFT JOIN cov w  ON w.g = c.g AND w.xb = c.xa AND w.ya = c.ya
      LEFT JOIN cov e  ON e.g = c.g AND e.xa = c.xb AND e.ya = c.ya
      LEFT JOIN cov s  ON s.g = c.g AND s.yb = c.ya AND s.xa = c.xa
      LEFT JOIN cov n2 ON n2.g = c.g AND n2.ya = c.yb AND n2.xa = c.xa
      GROUP BY c.g
    ),
    inputs AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_boxes,
             min(x0) AS minx, min(y0) AS miny,
             max(x1) AS maxx, max(y1) AS maxy
      FROM b GROUP BY g
    )
    , pairs AS (
      SELECT a.g, row_number() OVER (PARTITION BY a.g ORDER BY a.x0, a.y0, a.x1, a.y1) AS ida,
             a.x0, a.y0, a.x1, a.y1 FROM b a
    ),
    edges AS (
      SELECT p.g, p.ida AS i, q.ida AS j FROM pairs p JOIN pairs q
        ON p.g = q.g AND p.ida < q.ida
       AND p.x0 <= q.x1 AND q.x0 <= p.x1 AND p.y0 <= q.y1 AND q.y0 <= p.y1
    ),
    closure AS (
      WITH RECURSIVE cc(g, node, root) AS (
        SELECT g, ida, ida FROM pairs
        UNION
        SELECT e.g, CASE WHEN cc.node = e.i THEN e.j ELSE e.i END, cc.root
        FROM cc JOIN edges e ON cc.g = e.g AND cc.node IN (e.i, e.j)
      )
      SELECT g, node, min(root) AS root FROM cc GROUP BY g, node
    ),
    clus AS (
      SELECT g, CAST(count(DISTINCT root) AS INT) AS n_clusters,
             CAST(max(sz) AS INT) AS max_cluster
      FROM (SELECT g, root, count(*) AS sz FROM closure GROUP BY g, root)
      GROUP BY g
    ),
    edges5 AS (
      SELECT p.g, p.ida AS i, q.ida AS j FROM pairs p JOIN pairs q
        ON p.g = q.g AND p.ida < q.ida
       AND power(greatest(0, q.x0 - p.x1, p.x0 - q.x1), 2)
         + power(greatest(0, q.y0 - p.y1, p.y0 - q.y1), 2) <= 25
    ),
    closure5 AS (
      WITH RECURSIVE cc(g, node, root) AS (
        SELECT g, ida, ida FROM pairs
        UNION
        SELECT e.g, CASE WHEN cc.node = e.i THEN e.j ELSE e.i END, cc.root
        FROM cc JOIN edges5 e ON cc.g = e.g AND cc.node IN (e.i, e.j)
      )
      SELECT g, node, min(root) AS root FROM cc GROUP BY g, node
    ),
    clus5 AS (
      SELECT g, CAST(count(DISTINCT root) AS INT) AS n_clusters_d5
      FROM closure5 GROUP BY g
    )
    SELECT i.g AS n_regionkey, i.n_boxes, m.union_area, m.perimeter,
           i.minx, i.miny, i.maxx, i.maxy,
           {_DISSOLVED_SQL} AS concave_union,
           c.n_clusters, c.max_cluster, c5.n_clusters_d5
    FROM inputs i JOIN metrics m ON i.g = m.g
    JOIN clus c ON i.g = c.g JOIN clus5 c5 ON i.g = c5.g
    """,
)
def q124_st_union_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union as a grouped aggregate: dissolve each region's nation
    boxes into one geometry, then measure it. Two-level cascade (module
    docstring): partition-local partial unions via mapInPandas, then one
    final union of partials per group."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    boxes = (
        nation_boxes(spark, sf_dir)
        .join(n, "n_nationkey")
        .select(
            F.col("n_regionkey").alias("g"),
            F.call_function(
                "st_makeenvelope",
                F.col("minx").cast("double"),
                F.col("miny").cast("double"),
                F.col("maxx").cast("double"),
                F.col("maxy").cast("double"),
            ).alias("wkt"),
        )
    )
    partials = boxes.mapInPandas(_partial_union, schema="g long, wkt string, n long")
    unions = (
        partials.groupBy("g")
        .agg(
            F.sum("n").alias("n_boxes"),
            F.expr("st_union_all(collect_list(wkt))").alias("uwkt"),
        )
    )
    return unions.select(
        F.col("g").alias("n_regionkey"),
        "n_boxes",
        F.expr("st_area(uwkt)").alias("union_area"),
        F.expr("st_perimeter(uwkt)").alias("perimeter"),
        F.expr("st_xmin(uwkt)").alias("minx"),
        F.expr("st_ymin(uwkt)").alias("miny"),
        F.expr("st_xmax(uwkt)").alias("maxx"),
        F.expr("st_ymax(uwkt)").alias("maxy"),
    ).withColumn(
        # dissolved-output family (r12): concave pentagon ∪ overlapping
        # square anchored at the region's min corner must come back as
        # ONE boundary-dissolved polygon whose WKT the oracle
        # string-builds from the same integer arithmetic
        "concave_union",
        F.expr(f"st_union({_A_SQL}, {_B_SQL})"),
    ).join(
        # ST_ClusterIntersecting / ST_ClusterWithin (late r12, F12):
        # cluster each region's raw boxes; the oracle recomputes the
        # transitive closure with a recursive CTE (the q90 idiom) over
        # inclusive bbox overlap / squared box-gap <= d^2
        boxes.groupBy("g")
        .agg(
            # cluster ONCE per group, derive both metrics from the
            # column (duplicate Arrow UDF calls are not CSE'd —
            # code-review r12); a Python UDF cannot run inside a
            # higher-order lambda (the q162/q169 wall), so member
            # counts use the JVM split builtin — every member of
            # these collections is one POLYGON
            F.expr("st_clusterintersecting(collect_list(wkt))").alias("cl"),
            F.expr("size(st_clusterwithin(collect_list(wkt), 5.0D))").alias(
                "n_clusters_d5"
            ),
        )
        .select(
            F.col("g").alias("n_regionkey"),
            F.expr("size(cl)").alias("n_clusters"),
            F.expr(
                "aggregate(transform(cl, c -> size(split(c, 'POLYGON')) - 1),"
                " 0, (a, x) -> CASE WHEN x > a THEN x ELSE a END)"
            ).alias("max_cluster"),
            "n_clusters_d5",
        ),
        "n_regionkey",
    )
