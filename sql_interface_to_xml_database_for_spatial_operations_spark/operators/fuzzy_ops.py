"""Driver row for fuzzy string matching (functions/strsim.py) — the
record-linkage / near-dup-candidate-scoring stage of the data
pipeline, in the blocked-join shape it takes at scale.

Shape: nation self-join BLOCKED on the first letter (an equi-join —
the 100 TB pattern: block cheaply, then score only candidate pairs;
never a cross join), then five per-pair similarity kernels:

- ``lev``  — Spark's BUILT-IN levenshtein() (JVM-side, no UDF) vs
  DuckDB's levenshtein.
- ``dl``   — text_damerau (FULL alphabet-dictionary
  Damerau-Levenshtein) vs DuckDB's damerau_levenshtein.
- ``jaro`` / ``jw`` — text_jaro / text_jarowinkler vs DuckDB's
  jaro_similarity / jaro_winkler_similarity, compared micro-int
  (floor(x·1e6 + 0.5) — far above ulp noise).
- ``jac``  — text_jaccard_chars (distinct-character Jaccard) vs
  DuckDB's jaccard.
- ``ham``  — text_hamming of each left name against its reverse
  (equal lengths by construction) vs DuckDB's hamming.

The oracle runs DuckDB's OWN independent implementations — the same
independent-oracle idiom as q172's nfc_normalize columns — so any
drift in the published definitions is caught, not just self-
consistency. (A 5000-case offline fuzz of the kernels against DuckDB
found zero divergences; tests/test_strsim.py keeps a seeded slice of
it in the battery.)

Scale shape: one equi-join shuffle on the block key + Arrow-batched
map-side scoring. Skewed blocks salt like any other join key; the
kernels carry a 10k-char length budget so a pathological document
cannot quadratic-stall an executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .registry import query
from ..sources.tables import load_table

_MICRO = "CAST(floor({x} * 1e6 + 0.5) AS BIGINT)"


def _pair_sql(table: str, lev: str, dl: str, jaro: str, jw: str, jac: str, ham: str) -> str:
    """The shared query shape; per-engine table and function names
    injected."""
    return f"""
        SELECT a.n_nationkey AS k1, b.n_nationkey AS k2,
               CAST({lev} AS BIGINT) AS lev,
               CAST({dl} AS BIGINT) AS dl,
               {_MICRO.format(x=jaro)} AS jaro,
               {_MICRO.format(x=jw)} AS jw,
               {_MICRO.format(x=jac)} AS jac,
               CAST({ham} AS BIGINT) AS ham
        FROM {table} a JOIN {table} b
          ON substring(a.n_name, 1, 1) = substring(b.n_name, 1, 1)
         AND a.n_nationkey <= b.n_nationkey
    """


# ``{nation}`` is a spark.sql DataFrame argument: PySpark binds it to a
# generated view and drops that view after analysis, so the row never
# replaces a user's own ``nation`` view.
_SPARK_SQL = _pair_sql(
    table="{nation}",
    lev="levenshtein(a.n_name, b.n_name)",
    dl="text_damerau(a.n_name, b.n_name)",
    jaro="text_jaro(a.n_name, b.n_name)",
    jw="text_jarowinkler(a.n_name, b.n_name)",
    jac="text_jaccard_chars(a.n_name, b.n_name)",
    ham="text_hamming(a.n_name, reverse(a.n_name))",
)

_Q181_ORACLE = _pair_sql(
    table="nation",
    lev="levenshtein(a.n_name, b.n_name)",
    dl="damerau_levenshtein(a.n_name, b.n_name)",
    jaro="jaro_similarity(a.n_name, b.n_name)",
    jw="jaro_winkler_similarity(a.n_name, b.n_name)",
    jac="jaccard(a.n_name, b.n_name)",
    ham="hamming(a.n_name, reverse(a.n_name))",
)


@query("q181_fuzzy_match", oracle=_Q181_ORACLE)
def q181_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-letter-blocked fuzzy scoring of nation-name pairs against
    DuckDB's own similarity implementations (module docstring)."""
    return spark.sql(_SPARK_SQL, nation=load_table(spark, sf_dir, "nation"))
