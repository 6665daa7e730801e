"""K-means assignment + update step over the embeddings table (q143) —
beyond-reference.

One Lloyd iteration with deterministic seeds: the first K vectors (by
``vec_id``) are the centroids, every remaining vector is assigned to
its nearest centroid by squared L2 (JVM ``aggregate``/``zip_with``
fold — no Python in the distance loop), and the update step re-averages
each cluster. The driver row reports, per centroid: member count, the
exact micro-int sum of squared distances, and the updated centroid's
first coordinate —
i.e. both halves of the iteration are oracle-pinned.

Cross-engine comparison: distances and means are compared as micro-int
(``floor(x·1e6 + 0.5)``), the repo-standard tie-stable idiom — Spark's
sequential fold and DuckDB's ``list_sum`` may differ in FP summation
order by ~1e-12, far below the micro quantum. The argmin itself is
taken over the micro-int distance with centroid-id tiebreak, so the
assignment is identical in both engines by construction.

Scale shape: the centroid model is K rows — broadcast — so assignment
is map-only over an arbitrarily large vector table; the update is one
bounded-key shuffle (K groups) with map-side partial aggregation.
Iterating Lloyd at 100 TB is this same plan in a loop with the new
centroids re-broadcast each round; one step is what a driver row can
pin exactly. New module so the verified similarity/vectors fingerprints
stay untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .vectors import DIM as _DIM
from .vectors import vectors as _vectors

K = 10  # vec_id < K are the seed centroids

_DIST2 = (
    "aggregate(zip_with({v}, {c}, (x, y) -> (x - y) * (x - y)), "
    "0D, (acc, x) -> acc + x)"
)

_Q143_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {K}),
    pts AS (SELECT vec_id, v FROM e WHERE vec_id >= {K}),
    scored AS (
      SELECT vec_id,
             cid,
             CAST(floor(list_sum(list_transform(list_zip(v, cv),
                    x -> (x[1] - x[2]) * (x[1] - x[2]))) * 1000000 + 0.5)
                  AS BIGINT) AS d2_micro,
             v
      FROM pts CROSS JOIN cent
    ),
    assigned AS (
      SELECT vec_id, cid, d2_micro, v FROM (
        SELECT vec_id, cid, d2_micro, v,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2_micro ASC, cid ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT cid,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(d2_micro) AS BIGINT) AS sum_d2_micro,
           CAST(floor(avg(v[1]) * 1000000 + 0.5) AS BIGINT)
             AS new_c0_micro
    FROM assigned
    GROUP BY cid
"""


@query("q143_kmeans_assign", oracle=_Q143_ORACLE)
def q143_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step: broadcast the K seed centroids, assign every
    vector to the micro-int-nearest one (JVM fold distances), and
    re-aggregate each cluster's size, exact squared-distance sum, and
    updated first coordinate (module docstring)."""
    vecs = _vectors(spark, sf_dir)
    cent = vecs.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    pts = vecs.filter(F.col("vec_id") >= K).select("vec_id", "v")
    scored = pts.join(F.broadcast(cent)).withColumn(
        "d2_micro",
        F.expr(
            "CAST(floor("
            + _DIST2.format(v="v", c="cv")
            + " * 1000000 + 0.5) AS BIGINT)"
        ),
    )
    # Per-vector argmin as min(struct(d2, cid)) — map-side combinable
    # (a window sort would shuffle all K candidate rows unreduced; the
    # struct-min's partial aggregation cuts the shuffle to one row per
    # vector regardless of K). cid breaks micro-int ties, matching the
    # oracle's (d2_micro, cid) order.
    assigned = scored.groupBy("vec_id").agg(
        F.min(F.struct("d2_micro", "cid")).alias("m"),
        F.first("v").alias("v"),  # identical across the group
    ).select(
        "vec_id",
        F.col("m.cid").alias("cid"),
        F.col("m.d2_micro").alias("d2_micro"),
        "v",
    )
    # SUM of the integer micro-distances, not their floored average: an
    # average of already-quantized integers lands EXACTLY on half-micro
    # boundaries with probability ~1/n per cluster, where Spark's and
    # DuckDB's float summation order could round opposite ways (the
    # r6 round() lesson, systematic rather than measure-zero here).
    # The exact BIGINT sum plus n_members carries the same information.
    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("d2_micro").alias("sum_d2_micro"),
        F.expr(
            "CAST(floor(avg(v[0]) * 1000000 + 0.5) AS BIGINT)"
        ).alias("new_c0_micro"),
    )


# ---------------------------------------------------------------------------
# q168: k-means iterated to convergence (VERDICT r11 item 6 — the
# ST_ClusterKMeans analog; PostGIS caps Lloyd internally the same way)
# ---------------------------------------------------------------------------
#
# INTEGER-QUANTIZED Lloyd: every vector quantizes ONCE to micro-int
# coordinates (floor(x·1e6 + 0.5) — deterministic on the raw parquet
# doubles, no summation-order variance), and every later step is exact
# BIGINT arithmetic: squared distances (≤ 2.4e15 < 2^63), argmin with
# (d2, cid) tiebreak, and round-half-up integer centroid means
# computed as floor((2·Σ + n)/(2·n)) — identical in Python ints and in
# DuckDB's double division (numerator gaps ≥ 1/(2n) ≫ ulp, so the
# floor can never flip). Both engines are bit-exact BY CONSTRUCTION —
# no micro-rounding tie class anywhere (the r6 lesson applied at the
# design level instead of per-column).
#
# Scale shape (the published distributed-Lloyd plan, e.g. Spark MLlib):
# per round one broadcast of K quantized centroids (map-only scoring +
# struct-min argmin with partial aggregation), one bounded-key shuffle
# (K×64 sum cells), and one bounded collect (512 rows) to update the
# driver-side model. Each round rebuilds the plan from the cached
# points + literal centroids, so lineage does NOT chain across rounds
# (the SCALE.md iterative-loop rule); rounds are capped well under the
# ~15-round local-mode cliff.

K168 = 8
R168 = 6


def kmeans_rounds(
    spark: SparkSession, pts: DataFrame, k: int, max_rounds: int
) -> tuple[DataFrame, list[list[int]], bool]:
    """Iterate integer-quantized Lloyd from the first-k seed until the
    centroid update is a FIXED POINT (the free driver-side convergence
    test — equal centroids make the next assignment pass identical) or
    ``max_rounds`` passes ran. ``pts`` needs (vec_id, pv:
    array<bigint>). Returns (final assignment DataFrame (vec_id, cid,
    d2), final centroids, stable?). Raises if a cluster empties
    (fixture-class inputs never do; a silent respawn rule would be an
    untestable hidden branch)."""
    seeds = pts.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    if len(seeds) != k:
        raise ValueError(f"kmeans: need the first {k} vec_ids as seeds")
    cent = [list(r.pv) for r in seeds]
    dim = len(cent[0])
    assigned = None
    prev_cent = None
    stable = False
    for _ in range(max_rounds):
        # Centroids ride as LITERAL integer arrays in the expression
        # (k×dim longs ≈ a few KB of plan text — bounded by the model
        # size, never the data): assignment is PURE MAP, per-centroid
        # integer distances as independent zip_with/aggregate folds,
        # argmin as array_position(d2s, array_min(d2s)) (first index =
        # lowest-cid tiebreak, matching the oracle's (d2, cid) order).
        # No per-vector shuffle; the only shuffle per round is the
        # bounded (cid, pos) update aggregation.
        # r17 re-measurement (guide §1): the previous broadcast-DATA
        # form (one-row array<array<bigint>> crossJoin(broadcast))
        # existed to keep codegen identical across rounds, but on
        # Spark 4.1 the higher-order folds are INTERPRETED (never
        # janino-compiled), so there is nothing to recompile — and the
        # per-round BroadcastExchange + its job cost ~0.5 s of each
        # round's ~0.85 s. Literal centroids: 0.85 -> 0.29 s per fresh
        # round plan at sf0.1 (interleaved A/B, same session).
        folds = ", ".join(
            "aggregate(zip_with(pv, array("
            + ", ".join(f"{x}L" for x in c)
            + "), (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
            for c in cent
        )
        assigned = (
            pts.selectExpr("vec_id", "pv", f"array({folds}) AS d2s")
            .selectExpr(
                "vec_id",
                "pv",
                "CAST(array_position(d2s, array_min(d2s)) - 1 AS INT) AS cid",
                "array_min(d2s) AS d2",
            )
        )
        cells = (
            assigned.select("cid", F.posexplode("pv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()  # bounded: k x dim rows (the broadcast-model class)
        )
        sums = [[0] * dim for _ in range(k)]
        ns = [0] * k
        for r in cells:
            sums[r.cid][r.pos] = r.s
            ns[r.cid] = r.n
        if any(n == 0 for n in ns):
            raise ValueError("kmeans: empty cluster (outside the fixture class)")
        prev_cent = cent
        cent = [
            [(2 * sums[c][j] + ns[c]) // (2 * ns[c]) for j in range(dim)]
            for c in range(k)
        ]
        # Centroid fixed point: the update left every centroid in
        # place, so the next assignment pass would be identical —
        # converged, and the check is a FREE driver-side list compare
        # (no extra Spark job; an assignment-diff count would recompute
        # both rounds' scoring plans).
        if cent == prev_cent:
            stable = True
            break
    return assigned, cent, stable


def _q168_oracle(k: int, rounds: int, dim: int) -> str:
    """Unrolled DuckDB mirror of ``kmeans_rounds``: same quantization,
    same integer distance/argmin/mean arithmetic, round for round; the
    stability flag is the same centroid fixed-point test the engine
    uses (c_R == c_{R-1})."""
    parts = [
        f"""WITH pts AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS pv
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, pv AS cv FROM pts WHERE vec_id < {k}
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", s{r} AS (
  SELECT p.vec_id, c.cid, p.pv,
         list_sum(list_transform(list_zip(p.pv, c.cv),
                  t -> (t[1] - t[2]) * (t[1] - t[2]))) AS d2
  FROM pts p CROSS JOIN c{r - 1} c
), a{r} AS (
  SELECT vec_id, cid, d2, pv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, cid ASC) AS rn
    FROM s{r}
  ) WHERE rn = 1
), c{r} AS (
  SELECT cid, array_agg(cm ORDER BY pos) AS cv FROM (
    SELECT cid, pos,
           CAST(floor((2 * sum(pv[pos]) + count(*))
                      / (2.0 * count(*))) AS BIGINT) AS cm
    FROM a{r}, generate_series(1, {dim}) AS g(pos)
    GROUP BY cid, pos
  ) GROUP BY cid
)"""
        )
    parts.append(
        f"""
SELECT a.cid,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a.d2) AS BIGINT) AS sum_d2,
       CAST(max(c.cv[1]) AS BIGINT) AS c0,
       (SELECT count(*) = {k}
        FROM c{rounds} x JOIN c{rounds - 1} y
          ON x.cid = y.cid AND x.cv = y.cv) AS stable
FROM a{rounds} a JOIN c{rounds} c ON a.cid = c.cid
GROUP BY a.cid"""
    )
    return "".join(parts)


@query("q168_kmeans_converged", oracle=_q168_oracle(K168, R168, _DIM))
def q168_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized Lloyd iterated R168 rounds (stable-early-exit;
    the fixture's random embeddings keep wandering, so the row pins the
    exact integer state after round R168 plus the stability flag — both
    engines bit-exact by construction, module comment)."""
    from ..caching import tracked_persist

    # tracked_persist, not persist + finally-unpersist (r17
    # optimization): the returned plan's final assignment pass re-reads
    # ``pts``, and the old eager unpersist dropped the cache BEFORE the
    # caller ever ran an action, forcing one full re-quantization scan
    # per run. The tracked cache lives until the next registered-query
    # entry (caching.py), exactly the lifetime the result needs.
    pts = tracked_persist(
        _vectors(spark, sf_dir).select(
            "vec_id",
            F.expr(
                "transform(v, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"
            ).alias("pv"),
        )
    )
    assigned, cent, stable = kmeans_rounds(spark, pts, K168, R168)
    # the final update's centroids (c{R}) + the final assignment.
    # r18: c0 attaches as a LITERAL map lookup (k entries — the same
    # bounded model class as the literal centroids) instead of a
    # broadcast join: the join's BroadcastExchange cost a job, and its
    # inner-join null check pushed `isnotnull(cid)` down into the
    # cached-points scan, where it re-evaluated the full k×dim literal
    # distance folds 2 extra times per row (plans/r17 vs r18 diff).
    # Every cid 0..k-1 is present in the map, so element_at never
    # returns NULL and the rows are identical. Interleaved A/B at
    # sf0.1: 2.57 -> 2.16 s.
    # The literal's type follows the values (INT when every centroid
    # fits in 32 bits, else BIGINT), so the cast pins c0 to BIGINT
    # whatever the data.
    cent_first = {c: cent[c][0] for c in range(K168)}
    c0_map = F.create_map(
        *[F.lit(x) for cv in cent_first.items() for x in cv]
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("d2").alias("sum_d2"),
        )
        .withColumn("c0", F.element_at(c0_map, F.col("cid")).cast("long"))
        .withColumn("stable", F.lit(stable))
        .select("cid", "n_members", "sum_d2", "c0", "stable")
    )
