"""Driver row for DISTRIBUTED BPE training end to end (r15 — VERDICT
r14 item 6: ``bpe_train`` was unit-tested only; this row runs the
word-count trainer against a closed-form oracle at the driver gate).

Corpus: one word per nation, ``'ab' * m`` with m = 3 + k%5 — so the
pair counts every training round are exact closed forms over the 25
nation keys (Σm = 125):

- round 1: (a, b) appears Σm = 125 times (beats (b, a) at Σ(m−1) =
  100) → merge ``a b``.
- round 2: words are [ab]·m → (ab, ab) at Σ(m−1) = 100 → ``ab ab``.
- round 3: words are [abab]·(m//2) + [ab]·(m%2) → (abab, abab) at
  Σ(m//2 − 1 + …) = 30 vs (abab, ab) at 15 → ``abab abab``.
- round 4: (abab, ab) and (abababab, abab) TIE at 10 — the
  deterministic lexicographic tie-break picks ``abab ab`` (the
  documented count-desc, pair-asc rule).

Re-encoding with the learned table gives m ∈ {3,4} → 1 token and
m ∈ {5,6,7} → 2 tokens: ``CASE WHEN k%5 <= 1 THEN 1 ELSE 2 END``.

The trainer collects the corpus's distinct-word table in one scan (a
partition-local word count, then one hash shuffle over (word, count))
and runs every merge round on the driver over that table, so the job
count does not grow with the number of merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .tokenize_ops import _serialize_merges, bpe_train

_Q176_ORACLE = """
    SELECT 'merge' AS fam, i AS key, pair AS val
    FROM (VALUES (0, 'a b'), (1, 'ab ab'), (2, 'abab abab'),
                 (3, 'abab ab')) AS m(i, pair)
    UNION ALL
    SELECT 'encode' AS fam, n_nationkey AS key,
           CAST(CASE WHEN n_nationkey % 5 <= 1 THEN 1 ELSE 2 END
                AS STRING) AS val
    FROM nation
"""


@query("q176_bpe_train", oracle=_Q176_ORACLE)
def q176_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 4 BPE merges from the closed-form corpus through the
    distributed trainer, then re-encode with the learned table
    (module docstring derivation)."""
    from ..sources.tables import load_table

    corpus = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.repeat(F.lit("ab"), (F.lit(3) + F.col("n_nationkey") % 5)).alias("txt"),
    )
    merges = bpe_train(corpus, "txt", 4)
    spec = _serialize_merges(merges)
    merge_rows = spark.createDataFrame(
        [("merge", i, f"{a} {b}") for i, (a, b) in enumerate(merges)],
        "fam string, key int, val string",
    )
    encode_rows = corpus.select(
        F.lit("encode").alias("fam"),
        F.col("k").cast("int").alias("key"),
        F.call_function("bpe_token_count", F.col("txt"), F.lit(spec))
        .cast("string")
        .alias("val"),
    )
    return merge_rows.unionByName(encode_rows)
