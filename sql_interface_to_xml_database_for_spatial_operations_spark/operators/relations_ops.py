"""DE-9IM relation-predicate queries (F12 remainder: VERDICT r4 item 5).

The reference forwards any PostGIS name it does not special-case straight
to PostGIS (reference src/index.ts:44-63), so ``ST_Touches`` /
``ST_Disjoint`` / ``ST_Equals`` / ``ST_Overlaps`` / ``ST_Crosses`` are
part of its accepted SQL surface even though no thesis query exercises
them.  ``functions/relations.py`` implements the predicates over the WKT
geometry model; this module registers the driver-checkable query.

Fixture strategy (same as spatial_ops.py): geometry is derived from
integer keys with identical arithmetic on both engines, the Spark side
goes through the real WKT + pandas-UDF path, and the oracle re-expresses
each DE-9IM predicate as exact axis-aligned-rectangle interval math —
the comparisons are products/sums of integer-valued doubles, so both
sides are bit-exact and the WKT round-trip + topology code is what is
actually under test.

Two pair families keep every predicate column non-trivially mixed:

- ``nn``: nation-box × nation-box (k1 ≤ k2).  The 30-unit grid with
  30/45/60-wide boxes yields touching edges (13 true), identical boxes
  (nations 0 and 24 — the box parameters are congruences with joint
  period 24 — plus the 25 self-pairs), and partial overlaps (6 true).
- ``nr``: nation-box × region-box, where ``t_crosses`` tests the nation
  box's main diagonal against the region rectangle (13 true of 125;
  polygon/polygon pairs can never cross, so the ``nn`` family alone
  would leave the column all-false).

The diagonal's Liang-Barsky clip in the oracle is written in
cross-multiplied form ((bx0-ax0)*H < (by1-ay0)*W, …) instead of dividing
into parameter space: corner tangency then stays an exact integer
comparison rather than a last-ulp coin flip, matching the exact-orient
arithmetic used by ``relations.crosses`` (geometry.py ``_orient``).

This is a separate module from spatial_ops.py on purpose: staleness
fingerprints are module-granular over import closures (staleness.py), so
adding the new surface leaves every verified spatial query's fingerprint
untouched (importing spatial_ops from here does not change spatial_ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .spatial_ops import (
    NATION_BOXES_SQL,
    REGION_BOXES_SQL,
    nation_boxes,
    region_boxes,
)


def _fmt_num(c):
    """Print an integer-valued double the way the WKT serializer does
    (no trailing .0); box corners here are always multiples of 5."""
    return F.when(F.floor(c) == c, c.cast("bigint").cast("string")).otherwise(
        c.cast("string")
    )


def _with_geoms(df: DataFrame) -> DataFrame:
    """Envelope polygon + main-diagonal linestring from corner columns."""
    diag = F.concat(
        F.lit("LINESTRING("),
        _fmt_num(F.col("minx")),
        F.lit(" "),
        _fmt_num(F.col("miny")),
        F.lit(", "),
        _fmt_num(F.col("maxx")),
        F.lit(" "),
        _fmt_num(F.col("maxy")),
        F.lit(")"),
    )
    return df.withColumn(
        "geom", F.expr("st_makeenvelope(minx, miny, maxx, maxy)")
    ).withColumn("diag", diag)


# Exact rectangle DE-9IM in SQL over a pair CTE with columns
# ax0..ay1 / bx0..by1 (a's diagonal runs lower-left → upper-right, so
# dx = ax1-ax0 > 0 and dy = ay1-ay0 > 0 always). The crosses column is
# the only family-specific predicate, so it is a parameter
# (code-review r14: the fs family used to copy the other four).


def _pred_select(crosses_expr: str, from_clause: str) -> str:
    return f"""
    SELECT kind, k1, k2,
      (GREATEST(ax0,bx0) <= LEAST(ax1,bx1) AND GREATEST(ay0,by0) <= LEAST(ay1,by1)
       AND NOT (GREATEST(ax0,bx0) < LEAST(ax1,bx1) AND GREATEST(ay0,by0) < LEAST(ay1,by1)))
        AS t_touches,
      (NOT (GREATEST(ax0,bx0) <= LEAST(ax1,bx1) AND GREATEST(ay0,by0) <= LEAST(ay1,by1)))
        AS t_disjoint,
      (ax0 = bx0 AND ay0 = by0 AND ax1 = bx1 AND ay1 = by1) AS t_equals,
      (GREATEST(ax0,bx0) < LEAST(ax1,bx1) AND GREATEST(ay0,by0) < LEAST(ay1,by1)
       AND NOT (ax0 <= bx0 AND bx1 <= ax1 AND ay0 <= by0 AND by1 <= ay1)
       AND NOT (bx0 <= ax0 AND ax1 <= bx1 AND by0 <= ay0 AND ay1 <= by1))
        AS t_overlaps,
      ({crosses_expr})
        AS t_crosses
    {from_clause}
"""


_PRED_SQL = _pred_select(
    """(bx0-ax0) * (ay1-ay0) < (by1-ay0) * (ax1-ax0)
       AND (by0-ay0) * (ax1-ax0) < (bx1-ax0) * (ay1-ay0)
       AND (bx0-ax0) < (ax1-ax0) AND (by0-ay0) < (ay1-ay0)
       AND (bx1-ax0) > 0 AND (by1-ay0) > 0
       AND NOT (bx0 <= ax0 AND ax0 <= bx1 AND by0 <= ay0 AND ay0 <= by1
                AND bx0 <= ax1 AND ax1 <= bx1 AND by0 <= ay1 AND ay1 <= by1)""",
    "FROM pairs",
)

# Irrational scale for the float-coincident family (r14): pi/4 as an
# exact double literal. k * _FS for the same integer k is the SAME
# double in Spark and DuckDB (one IEEE multiply), so shared box edges
# stay EXACTLY coincident while every coordinate becomes an
# FP-asymmetric float — the class the filtered-exact _orient closed.
# The oracle casts the literal to DOUBLE so DuckDB's DECIMAL literal
# typing cannot sneak exact-decimal arithmetic in.
_FS = 0.7853981633974483

# Scaled-pair subquery for the fs family. The vertical probe line at
# cx spans [ly0, ly1]; crosses(b) iff cx is strictly inside b's
# x-range, the y-intervals share interior length, and the line is NOT
# swallowed by b's closure (OGC: some of the line interior must lie in
# b's exterior; today's box heights can't contain the probe, but the
# formula should not depend on that — code-review r14). All pure
# comparisons of identically-computed doubles, exact in both engines
# (a diagonal would need rounded cross products here, which the Spark
# side no longer rounds).
_FS_PAIRS_SQL = f"""FROM (
      SELECT 'fs' AS kind, a.n_nationkey AS k1, b.n_nationkey AS k2,
             a.minx * CAST({_FS!r} AS DOUBLE) AS ax0,
             a.miny * CAST({_FS!r} AS DOUBLE) AS ay0,
             a.maxx * CAST({_FS!r} AS DOUBLE) AS ax1,
             a.maxy * CAST({_FS!r} AS DOUBLE) AS ay1,
             b.minx * CAST({_FS!r} AS DOUBLE) AS bx0,
             b.miny * CAST({_FS!r} AS DOUBLE) AS by0,
             b.maxx * CAST({_FS!r} AS DOUBLE) AS bx1,
             b.maxy * CAST({_FS!r} AS DOUBLE) AS by1,
             (a.minx * CAST({_FS!r} AS DOUBLE) + a.maxx * CAST({_FS!r} AS DOUBLE)) / 2 AS cx,
             a.miny * CAST({_FS!r} AS DOUBLE) - 10.0 AS ly0,
             a.maxy * CAST({_FS!r} AS DOUBLE) + 10.0 AS ly1
      FROM nb a JOIN nb b ON a.n_nationkey <= b.n_nationkey
    ) fsp"""

_FS_CROSSES_SQL = (
    "bx0 < cx AND cx < bx1 AND GREATEST(by0, ly0) < LEAST(by1, ly1)"
    " AND (ly0 < by0 OR by1 < ly1)"
)

_Q122_ORACLE = f"""
    WITH nb AS ({NATION_BOXES_SQL}), rb AS ({REGION_BOXES_SQL}),
    pairs AS (
      SELECT 'nn' AS kind, a.n_nationkey AS k1, b.n_nationkey AS k2,
             a.minx AS ax0, a.miny AS ay0, a.maxx AS ax1, a.maxy AS ay1,
             b.minx AS bx0, b.miny AS by0, b.maxx AS bx1, b.maxy AS by1
      FROM nb a JOIN nb b ON a.n_nationkey <= b.n_nationkey
      UNION ALL
      SELECT 'nr', a.n_nationkey, r.r_regionkey,
             a.minx, a.miny, a.maxx, a.maxy,
             r.minx, r.miny, r.maxx, r.maxy
      FROM nb a JOIN rb r ON TRUE
    )
    {_PRED_SQL}
    UNION ALL
    {_pred_select(_FS_CROSSES_SQL, _FS_PAIRS_SQL)}
"""


@query("q122_st_relations", oracle=_Q122_ORACLE)
def q122_st_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 remainder: ST_Touches / ST_Disjoint / ST_Equals / ST_Overlaps /
    ST_Crosses over the derived box fixtures (reference src/index.ts:44-63
    — names PostGIS accepts that no earlier query registered here). Both
    pair families are 25-row dims, so each join is a broadcast
    nested-loop over tiny sides feeding the vectorized predicates —
    at scale the box side stays the broadcast dim exactly like
    q44/q45."""
    a = _with_geoms(nation_boxes(spark, sf_dir)).select(
        F.col("n_nationkey").alias("k1"),
        F.col("geom").alias("geom_a"),
        F.col("diag").alias("diag_a"),
    )
    nb = _with_geoms(nation_boxes(spark, sf_dir)).select(
        F.col("n_nationkey").alias("k2"), F.col("geom").alias("geom_b")
    )
    rb = _with_geoms(region_boxes(spark, sf_dir)).select(
        F.col("r_regionkey").alias("k2"), F.col("geom").alias("geom_b")
    )
    nn = a.join(F.broadcast(nb), F.col("k1") <= F.col("k2")).withColumn(
        "kind", F.lit("nn")
    )
    nr = a.join(F.broadcast(rb)).withColumn("kind", F.lit("nr"))
    pairs = nn.unionByName(nr)
    base = pairs.select(
        "kind",
        "k1",
        "k2",
        F.expr("st_touches(geom_a, geom_b)").alias("t_touches"),
        F.expr("st_disjoint(geom_a, geom_b)").alias("t_disjoint"),
        F.expr("st_equals(geom_a, geom_b)").alias("t_equals"),
        F.expr("st_overlaps(geom_a, geom_b)").alias("t_overlaps"),
        F.expr("st_crosses(diag_a, geom_b)").alias("t_crosses"),
    )
    # float-coincident family (r14): the same nation boxes scaled by an
    # irrational double — one IEEE multiply per ordinate, so both
    # engines hold the SAME FP-asymmetric doubles and shared edges stay
    # exactly coincident. The predicates run the filtered-exact orient
    # paths on real float coordinates; the crosses probe is a vertical
    # line so the oracle stays pure interval math (see _Q122_ORACLE).
    s = F.lit(_FS)
    fs_box = nation_boxes(spark, sf_dir).select(
        "n_nationkey",
        (F.col("minx") * s).alias("sx0"),
        (F.col("miny") * s).alias("sy0"),
        (F.col("maxx") * s).alias("sx1"),
        (F.col("maxy") * s).alias("sy1"),
    )
    fa = fs_box.select(
        F.col("n_nationkey").alias("k1"),
        F.expr("st_makeenvelope(sx0, sy0, sx1, sy1)").alias("geom_a"),
        F.concat(
            F.lit("LINESTRING("),
            ((F.col("sx0") + F.col("sx1")) / 2).cast("string"),
            F.lit(" "),
            (F.col("sy0") - F.lit(10.0)).cast("string"),
            F.lit(", "),
            ((F.col("sx0") + F.col("sx1")) / 2).cast("string"),
            F.lit(" "),
            (F.col("sy1") + F.lit(10.0)).cast("string"),
            F.lit(")"),
        ).alias("vline_a"),
    )
    fb = fs_box.select(
        F.col("n_nationkey").alias("k2"),
        F.expr("st_makeenvelope(sx0, sy0, sx1, sy1)").alias("geom_b"),
    )
    fs = (
        fa.join(F.broadcast(fb), F.col("k1") <= F.col("k2"))
        .withColumn("kind", F.lit("fs"))
        .select(
            "kind",
            "k1",
            "k2",
            F.expr("st_touches(geom_a, geom_b)").alias("t_touches"),
            F.expr("st_disjoint(geom_a, geom_b)").alias("t_disjoint"),
            F.expr("st_equals(geom_a, geom_b)").alias("t_equals"),
            F.expr("st_overlaps(geom_a, geom_b)").alias("t_overlaps"),
            F.expr("st_crosses(vline_a, geom_b)").alias("t_crosses"),
        )
    )
    return base.unionByName(fs)
