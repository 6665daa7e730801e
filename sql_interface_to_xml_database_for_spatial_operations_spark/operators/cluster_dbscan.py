"""Distributed DBSCAN over point features — the ST_ClusterDBSCAN
analog (PostGIS window function; the reference forwards it to PostGIS
like every other accepted name, F12 src/index.ts:44-63).

Semantics (classic DBSCAN, made deterministic):

- neighbors: planar distance ≤ eps within the same PARTITION
  (c_nationkey here — PostGIS runs ST_ClusterDBSCAN ``OVER (PARTITION
  BY ...)``, and partitioning also bounds component sizes at scale);
- core point: |N_eps(p)| ≥ minpts, COUNTING p itself;
- clusters: connected components of core points under eps-adjacency;
  cluster id = the component's MIN core custkey (PostGIS numbers
  clusters arbitrarily; the min-id canonical label makes the result a
  pure function of the input — same policy as the dedup clusters);
- border point: non-core with ≥1 core neighbor → the MIN cluster
  LABEL among its adjacent cores (PostGIS: arbitrary adjacent
  cluster);
- noise: NULL cluster id.

Scale shape — the 100 TB plan, not a pairwise cross join:

1. each point gets a grid cell of side eps (floor(lon/eps),
   floor(lat/eps)); a point's eps-disk only reaches the 3×3
   neighborhood, so candidate pairs come from ONE equi-join of the
   9-cell explosion against single-cell keys (nationkey, cx, cy) —
   shuffle on cell keys, no quadratic blowup;
2. exact distance filter on the candidates (same float formula as the
   oracle: dx² + dy² ≤ eps², bit-identical binary64 on both engines);
3. degree count → core flag (one aggregate);
4. core-core edges (deduplicated to one direction —
   ``connected_components`` orients every edge itself) →
   ``dedup.connected_components`` (alternating large-star/small-star
   edge contraction, Kiveris et al. 2014). Rounds are O(log² n) in
   component size, NOT component hop diameter, so a chain of points
   spaced just under eps costs the same handful of shuffle rounds as
   a blob; one-hop-per-round label propagation would need ~25 rounds
   at sf0.1 and O(point count) on eps-chains. Isolated cores keep their
   own label via the left-join coalesce; (q47/q97's
   ``spatial_ops._grid_candidates`` is the fixture-specialized
   ancestor of step 1's candidate join — this module's ``dbscan``
   carries the generic (id, part, x, y) form);
5. border assignment: one aggregate over non-core candidate pairs.

Oracle: DuckDB recursive-CTE transitive closure over the same
neighbor graph (driver row q160).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import connected_components
from .registry import query
from .spatial_ops import CUSTOMER_POINTS_SQL, customer_points

EPS = 10.0
MINPTS = 3
# A point's 3x3 neighbourhood cells (ncx, ncy) as one SQL expression over
# its home cell (cx, cy), so building the probe side is one py4j call.
_PROBE_CELLS_SQL = "array({})".format(
    ", ".join(
        f"named_struct('ncx', cx + {dx}, 'ncy', cy + {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
)


def dbscan(
    pts: DataFrame,
    id_col: str,
    part_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    minpts: int,
) -> DataFrame:
    """(id, is_core, cluster_id) per input row (module docstring)."""
    base = pts.select(
        F.col(id_col).alias("id"),
        F.col(part_col).alias("part"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    cx = F.floor(F.col("x") / eps).cast("long")
    cy = F.floor(F.col("y") / eps).cast("long")
    cells = base.withColumn("cx", cx).withColumn("cy", cy)
    # left side: every point exploded to its 3x3 neighborhood cells
    probe = cells.select(
        F.col("id").alias("ia"),
        F.col("part").alias("pa"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.expr(f"explode({_PROBE_CELLS_SQL})").alias("nc"),
    )
    build = cells.select(
        F.col("id").alias("ib"),
        F.col("part").alias("pb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("bcx"),
        F.col("cy").alias("bcy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    nbr = (
        probe.join(
            build,
            (F.col("pa") == F.col("pb"))
            & (F.col("nc.ncx") == F.col("bcx"))
            & (F.col("nc.ncy") == F.col("bcy"))
            & (F.col("ia") != F.col("ib")),
        )
        .filter(dx * dx + dy * dy <= F.lit(eps * eps))
        .select("ia", "ib")
    )
    nbr = nbr.localCheckpoint(eager=True)  # reused by deg/cedges/border
    if minpts <= 1:
        # every point (even an isolated one, which never appears in the
        # pair list) is its own core at minpts <= 1 (code-review r10)
        core = base.select("id")
    else:
        deg = nbr.groupBy("ia").agg(F.count(F.lit(1)).alias("n"))
        core = deg.filter(F.col("n") + 1 >= minpts).select(F.col("ia").alias("id"))
    cedges = (
        nbr.join(core.select(F.col("id").alias("ia")), "ia")
        .join(core.select(F.col("id").alias("ib")), "ib")
        .filter(F.col("ia") < F.col("ib"))  # CC orients edges itself
        .select("ia", "ib")
    )
    # DBSCAN components at eps-spacing are chain-shaped; star
    # contraction's round count does not grow with their hop diameter
    labels = connected_components(cedges)
    clab = (
        core.join(labels, "id", "left")
        .select("id", F.coalesce(F.col("label"), F.col("id")).alias("label"))
    )
    border = (
        nbr.join(core.select(F.col("id").alias("ia")), "ia", "left_anti")
        .join(clab.select(F.col("id").alias("ib"), F.col("label")), "ib")
        .groupBy("ia")
        .agg(F.min("label").alias("blabel"))
        .select(F.col("ia").alias("id"), "blabel")
    )
    return (
        base.select("id")
        .join(clab.withColumnRenamed("label", "clabel"), "id", "left")
        .join(border, "id", "left")
        .select(
            "id",
            F.col("clabel").isNotNull().alias("is_core"),
            F.coalesce(F.col("clabel"), F.col("blabel")).alias("cluster_id"),
        )
    )


_Q160_ORACLE = f"""
    WITH RECURSIVE pts AS ({CUSTOMER_POINTS_SQL}),
    nbr AS (
      SELECT a.c_custkey ia, b.c_custkey ib
      FROM pts a JOIN pts b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey <> b.c_custkey
       AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
           <= {EPS * EPS}
    ),
    deg AS (SELECT ia AS id, count(*) AS n FROM nbr GROUP BY ia),
    core AS (SELECT id FROM deg WHERE n + 1 >= {MINPTS}),
    cedges AS (
      SELECT ia AS u, ib AS v FROM nbr
      WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
    ),
    reach(u, v) AS (
      SELECT id, id FROM core
      UNION
      SELECT r.u, e.v FROM reach r JOIN cedges e ON r.v = e.u
    ),
    clab AS (SELECT u AS id, min(v) AS label FROM reach GROUP BY u),
    border AS (
      SELECT n.ia AS id, min(c.label) AS label
      FROM nbr n JOIN clab c ON n.ib = c.id
      WHERE n.ia NOT IN (SELECT id FROM core)
      GROUP BY n.ia
    )
    SELECT p.c_custkey AS id,
           cl.id IS NOT NULL AS is_core,
           CAST(coalesce(cl.label, b.label) AS BIGINT) AS cluster_id
    FROM pts p
    LEFT JOIN clab cl ON p.c_custkey = cl.id
    LEFT JOIN border b ON p.c_custkey = b.id
"""


@query("q160_cluster_dbscan", oracle=_Q160_ORACLE)
def q160_cluster_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DBSCAN (ST_ClusterDBSCAN analog) over the customer
    point features, partitioned by nation, eps=10, minpts=3 — grid-cell
    candidate join + star-contraction connected components (module
    docstring).
    Oracle: recursive-CTE transitive closure."""
    pts = customer_points(spark, sf_dir)
    return dbscan(
        pts, "c_custkey", "c_nationkey", "lon", "lat", EPS, MINPTS
    ).select(
        F.col("id"),
        F.col("is_core"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )
