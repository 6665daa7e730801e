"""Deterministic BPE tokenization + distributed BPE training (r14,
VERDICT r13 item 5 — the operator a real training-data pipeline runs;
whitespace counts mis-size every token budget).

Encoding is `functions/bpe.py` (byte-level GPT-2 BPE against a
merges-table argument, fuzz-pinned against a reference implementation
of the published algorithm). This module adds:

- ``bpe_train(df, col, n_merges)``: distributed BPE TRAINING — per
  round, re-tokenize every row against the merges learned so far (one
  Arrow-batched map), explode adjacent token pairs, count (ONE hash
  shuffle), and take the global argmax with a deterministic tie-break
  (count desc, then pair lexicographic asc). Lineage stays FLAT: each
  round re-derives from the source column with the merges applied
  inside the map (never chained over the previous round's DataFrame),
  so the local-mode chained-shuffle cliff (SCALE.md r11) cannot bite
  and at cluster scale each round is scan + partial-agg + 1-row
  collect. Rounds are bounded by the _MAX_TRAIN_MERGES budget.

- ``q172_bpe_tokenize``: the driver row. The fixture text is
  string-built from integer nation keys (``'ab'*m  'a'*r || 'b'``) and
  the merges table is fixed (``a b, ab ab, a a``), so every token id
  is a CLOSED FORM in (m, r):

    word1 = 'ab'*m  →  'abab'(257) × m//2, then 'ab'(256) × m%2
    word2 = 'a'*r+'b' → rank-0 merges the final (a,b) first, then
            rank-2 pairs the leading a's: 'aa'(258) × (r-1)//2,
            'a'(97) × (r-1)%2, 'ab'(256)

  giving exact BIGINT oracle columns for the token count, the token-id
  SUM, and the first token of word2 — plus the empty-text zero and the
  malformed-merges loud NULL.

r14 continuation: the row also pins the NORMALIZE-BEFORE-TOKENIZE
pass (functions/textnorm.py) — ``nfc_n`` composes k%3+1 decomposed
e+COMBINING-ACUTE pairs through text_nfc and ``strip_acc`` folds
composed é through text_strip_accents, each checked against DuckDB's
independent nfc_normalize / strip_accents implementations.

Scale shape: encoding is map-only; training is n_merges bounded
shuffles over (pair, count) — the published map-reduce BPE shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from ..functions import bpe as B

_MAX_TRAIN_MERGES = 64  # one shuffle per round — loud budget


def _ensure_udfs(spark: SparkSession) -> None:
    from ..functions.textnorm import register_textnorm_functions

    B.register_bpe_functions(spark)
    register_textnorm_functions(spark)  # NFC/strip-accents (r14)


def _serialize_merges(merges: list[tuple[str, str]]) -> str:
    # sides %XX-escape format-colliding bytes (commas, latin-1
    # whitespace like 0xA0, '%'): trained merges on real text must
    # round-trip through parse_merges (code-review r14)
    return "\n".join(
        f"{B.escape_token(a)} {B.escape_token(b)}" for a, b in merges
    )


def bpe_train(
    df: DataFrame, col: str, n_merges: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from ``df[col]``. Deterministic:
    ties on pair frequency break lexicographically. Stops early when
    the best remaining pair's frequency drops under ``min_freq``."""
    if not 0 <= n_merges <= _MAX_TRAIN_MERGES:
        raise ValueError(
            f"n_merges {n_merges} outside [0, {_MAX_TRAIN_MERGES}]"
        )
    merges: list[tuple[str, str]] = []
    # r18 (the q168 literal-model lesson, guide §4): the per-round pair
    # statistic is the REGISTERED ``bpe_adjacent_pairs`` UDF with the
    # learned merges riding as a LITERAL spec argument — the old shape
    # re-created (and re-pickled) a fresh closure pandas UDF every
    # round, paying UDF-command serialization + a brand-new expression
    # per round. The registered function parses the spec through the
    # same per-batch _cached_merges the encode path uses, and
    # registration is once_per_session (free on repeat calls). Same
    # tokens round for round: parse_merges(_serialize_merges(m)) is the
    # rank map the closure captured (escape round-trip, code-review
    # r14).
    B.register_bpe_functions(df.sparkSession)
    for _ in range(n_merges):
        spec = _serialize_merges(merges)
        # the UDF maps a spec it cannot parse to NULL, which would end
        # training early with a silently short merge list
        B.parse_merges(spec)
        top = (
            df.select(
                F.explode(
                    F.call_function(
                        "bpe_adjacent_pairs", F.col(col), F.lit(spec)
                    )
                ).alias("p")
            )
            .groupBy("p.left", "p.right")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_freq:
            break
        merges.append((top[0]["left"], top[0]["right"]))
    return merges


# ---------------------------------------------------------------------------
# q172: oracle-gated encoding row
# ---------------------------------------------------------------------------

_Q172_MERGES = "a b,ab ab,a a"

# m = 3 + k%5, r = 2 + k%7 (module docstring derivation)
_Q172_ORACLE = """
    WITH ks AS (
      SELECT n_nationkey AS k,
             3 + n_nationkey % 5 AS m,
             2 + n_nationkey % 7 AS r
      FROM nation
    )
    , nt AS (
      SELECT k, m, r,
             CAST(m // 2 + m % 2 + (r - 1) // 2 + (r - 1) % 2 + 1 AS BIGINT)
               AS n_tokens
      FROM ks
    )
    SELECT k,
           n_tokens,
           CAST(257 * (m // 2) + 256 * (m % 2)
                + 258 * ((r - 1) // 2) + 97 * ((r - 1) % 2) + 256 AS BIGINT)
             AS id_sum,
           CAST(CASE WHEN (r - 1) // 2 >= 1 THEN 258 ELSE 97 END AS BIGINT)
             AS word2_first_id,
           CAST(0 AS BIGINT) AS empty_n,
           TRUE AS bad_merges_null,
           CAST(floor((sum(n_tokens) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                       - n_tokens) / 12.0) AS BIGINT) AS pack_id,
           -- unicode normalization (r14 continuation): DuckDB's OWN
           -- nfc_normalize/strip_accents versus the engine's stdlib
           -- unicodedata kernels — two independent implementations
           CAST(length(nfc_normalize(repeat('e' || chr(769), 1 + k % 3)))
                AS BIGINT) AS nfc_n,
           strip_accents(repeat(chr(233), 1 + k % 3)) AS strip_acc
    FROM nt
"""


@query("q172_bpe_tokenize", oracle=_Q172_ORACLE)
def q172_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE encoding against a fixed merges table, every
    token id a closed form in the integer fixture parameters (module
    docstring). The real UDF path runs end to end: pretokenize, merge
    by rank, id assignment, array surface."""
    from pyspark.sql.window import Window

    from ..sources.tables import load_table

    _ensure_udfs(spark)
    ks = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        (F.lit(3) + F.col("n_nationkey") % 5).alias("m"),
        (F.lit(2) + F.col("n_nationkey") % 7).alias("r"),
    )
    text = F.concat(
        F.repeat(F.lit("ab"), F.col("m")),
        F.lit(" "),
        F.repeat(F.lit("a"), F.col("r")),
        F.lit("b"),
    )
    spec = F.lit(_Q172_MERGES)
    ids = F.call_function("bpe_token_ids", text, spec)
    base = ks.select(
        "k",
        F.call_function("bpe_token_count", text, spec).alias("n_tokens"),
        F.aggregate(
            ids, F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint")
        ).alias("id_sum"),
        F.element_at(ids, (F.col("m") / 2).cast("int") + F.col("m") % 2 + 1)
        .cast("bigint")
        .alias("word2_first_id"),
        F.call_function("bpe_token_count", F.lit(""), spec).alias("empty_n"),
        F.call_function("bpe_token_count", text, F.lit("garbage")).isNull()
        .alias("bad_merges_null"),
    )
    # the q106 packing window driven by REAL tokenizer counts (VERDICT
    # r13 item 5): bin the exclusive running BPE-token total into
    # 12-token packs — oracle-exact because the fixture counts are
    # closed forms
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        base.withColumn(
            "pack_id",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(12.0)
            ).cast("bigint"),
        )
        # normalization-before-tokenization columns (r14 continuation,
        # functions/textnorm.py): the engine composes k%3+1 decomposed
        # e+COMBINING ACUTE pairs to single codepoints; the oracle runs
        # DuckDB's independent nfc_normalize/strip_accents
        .withColumn(
            "nfc_n",
            F.expr(
                # the repeated literal is DECOMPOSED 'e' + U+0301 (the
                # combining acute), so the engine really composes — a
                # composed literal would make NFC an identity
                "CAST(length(text_nfc(repeat('é', 1 + k % 3))) AS BIGINT)"
            ),
        )
        .withColumn(
            "strip_acc",
            F.expr("text_strip_accents(repeat('é', 1 + k % 3))"),
        )
    )
