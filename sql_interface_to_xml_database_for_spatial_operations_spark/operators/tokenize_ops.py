"""Deterministic BPE tokenization + distributed BPE training (r14,
VERDICT r13 item 5 — the operator a real training-data pipeline runs;
whitespace counts mis-size every token budget).

Encoding is `functions/bpe.py` (byte-level GPT-2 BPE against a
merges-table argument, fuzz-pinned against a reference implementation
of the published algorithm). This module adds:

- ``bpe_train(df, col, n_merges)``: distributed BPE TRAINING in the
  word-frequency form of Sennrich et al. (2016). Pair counts depend
  only on how often each whitespace word occurs, so ONE scan counts
  the corpus's words (a partition-local ``Counter`` per Arrow batch,
  then one ``groupBy`` shuffle over (word, count)) and collects the
  distinct-word table; every merge round then runs on the driver over
  that table — re-encode each word against the merges learned so far,
  weight its adjacent pairs by the word's count, take the argmax with
  a deterministic tie-break (count desc, then pair asc). The driver
  holds the distinct-word table, never the corpus: the bound every
  mainstream BPE trainer works under. Rounds are bounded by the
  _MAX_TRAIN_MERGES budget.

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

Scale shape: encoding is map-only; training is one scan plus one
shuffle over (word, count), whatever n_merges is.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from ..functions import bpe as B

_MAX_TRAIN_MERGES = 64  # driver rounds over the word table — loud budget


def _serialize_merges(merges: list[tuple[str, str]]) -> str:
    # sides %XX-escape format-colliding bytes (commas, latin-1
    # whitespace like 0xA0, '%'): trained merges on real text must
    # round-trip through parse_merges (code-review r14)
    return "\n".join(
        f"{B.escape_token(a)} {B.escape_token(b)}" for a, b in merges
    )


def _count_words(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # the encoder's own pretokenizer (str.split: every Unicode
    # whitespace, which Java's \s is not); NULL texts have no words
    for pdf in batches:
        c = Counter(w for t in pdf.iloc[:, 0].dropna() for w in str(t).split())
        yield pd.DataFrame(
            {
                "w": pd.Series(list(c), dtype=object),
                "n": pd.Series(list(c.values()), dtype="int64"),
            }
        )


def bpe_train(
    df: DataFrame, col: str, n_merges: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from ``df[col]``. Deterministic:
    ties on pair frequency break lexicographically. Stops early when
    the best remaining pair's frequency drops under ``min_freq``.

    NULL and whitespace-only texts contribute no words (the encoder
    maps NULL to NULL and ``''`` to zero tokens), so an all-NULL
    corpus learns ``[]``. One scan and one shuffle collect the
    distinct-word table, whatever ``n_merges`` is; the driver must
    hold that table (not the corpus)."""
    if not 0 <= n_merges <= _MAX_TRAIN_MERGES:
        raise ValueError(
            f"n_merges {n_merges} outside [0, {_MAX_TRAIN_MERGES}]"
        )
    merges: list[tuple[str, str]] = []
    if n_merges == 0:
        return merges
    words = [
        (r["w"].encode("utf-8"), r["n"])
        for r in df.select(col)
        .mapInPandas(_count_words, "w string, n long")
        .groupBy("w")
        .agg(F.sum("n").alias("n"))
        .collect()
    ]
    for _ in range(n_merges):
        ranks = {p: i for i, p in enumerate(merges)}
        counts: Counter[tuple[str, str]] = Counter()
        for wb, n in words:
            toks = B.encode_word(wb, ranks)
            for pair in zip(toks, toks[1:]):
                counts[pair] += n
        if not counts:
            break
        # count desc, then pair asc in code-point order of the sides
        pair, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_freq:
            break
        merges.append(pair)
    # every trained table must survive the wire format the encoder reads
    B.parse_merges(_serialize_merges(merges))
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
