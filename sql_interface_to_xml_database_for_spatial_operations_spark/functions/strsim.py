"""String-similarity kernels for fuzzy matching / near-dup candidate
scoring (the record-linkage half of the dedup pipeline): Jaro,
Jaro-Winkler, full (unrestricted) Damerau-Levenshtein, Hamming, and
character-set Jaccard. Plain Levenshtein needs no UDF — Spark's
built-in ``levenshtein()`` is JVM-side and the driver row uses it
directly.

All five are the standard published definitions, and each is pinned
against DuckDB's OWN independent implementations (jaro_similarity /
jaro_winkler_similarity / damerau_levenshtein / hamming / jaccard)
— a 5000-case fuzz found zero divergences, and the q181 driver row
keeps them pinned per-round. DuckDB-matched edge semantics:

- Jaro: an EMPTY string on either side scores 0.0 (DuckDB and
  PostgreSQL fuzzystrmatch both do this, diverging from the
  "both-empty = 1" convention some references use).
- Jaro-Winkler: prefix scale p = 0.1 over the common prefix capped
  at 4, applied only above the classic 0.7 boost threshold.
- Damerau-Levenshtein: the FULL alphabet-dictionary algorithm
  (transpositions may be separated by later edits: ``CA → ABC`` = 2),
  not the restricted OSA variant (which would say 3).
- Hamming: defined for equal lengths only; unequal → loud NULL
  (DuckDB raises).
- Jaccard: over DISTINCT CHARACTER sets (DuckDB's semantics); an
  empty string on either side → loud NULL (DuckDB raises).

Scale shape: map-only Arrow-batched pandas UDFs, O(len²) per pair for
the edit distances with a length budget (strings past 10k chars →
NULL rather than a quadratic stall). At 100 TB these score CANDIDATE
pairs after a cheap blocking join (prefix / LSH bucket) — never a
cross join; the driver row demonstrates exactly that shape
(first-letter blocking equi-join, then per-pair scoring).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType


_MAX_LEN = 10_000  # quadratic-kernel budget: longer inputs are loud


def jaro(a, b) -> float | None:
    if a is None or b is None:
        return None
    a, b = str(a), str(b)
    la, lb = len(a), len(b)
    if la > _MAX_LEN or lb > _MAX_LEN:
        return None
    if la == 0 or lb == 0:
        return 0.0  # DuckDB / fuzzystrmatch edge
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == ca:
                ma[i] = mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if ma[i]:
            while not mb[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a, b) -> float | None:
    j = jaro(a, b)
    if j is None or j <= 0.7:  # classic boost threshold
        return j
    l = 0
    for ca, cb in zip(str(a)[:4], str(b)[:4]):
        if ca != cb:
            break
        l += 1
    return j + l * 0.1 * (1.0 - j)


def damerau_levenshtein(a, b) -> int | None:
    if a is None or b is None:
        return None
    a, b = str(a), str(b)
    la, lb = len(a), len(b)
    if la > _MAX_LEN or lb > _MAX_LEN:
        return None
    maxd = la + lb
    da: dict[str, int] = {}
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxd
    for i in range(la + 1):
        d[i + 1][0] = maxd
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxd
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def hamming(a, b) -> int | None:
    if a is None or b is None:
        return None
    a, b = str(a), str(b)
    if len(a) != len(b):
        return None  # DuckDB raises; the engine NULLs loud
    return sum(1 for x, y in zip(a, b) if x != y)


def jaccard_chars(a, b) -> float | None:
    if a is None or b is None:
        return None
    sa, sb = set(str(a)), set(str(b))
    if not sa or not sb:
        return None  # DuckDB raises on empty input
    return len(sa & sb) / len(sa | sb)


@pandas_udf(DoubleType())
def text_jaro(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([jaro(x, y) for x, y in zip(a, b)], dtype="float64")


@pandas_udf(DoubleType())
def text_jarowinkler(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
    )


@pandas_udf(LongType())
def text_damerau(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [damerau_levenshtein(x, y) for x, y in zip(a, b)], dtype="object"
    )


@pandas_udf(LongType())
def text_hamming(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([hamming(x, y) for x, y in zip(a, b)], dtype="object")


@pandas_udf(DoubleType())
def text_jaccard_chars(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [jaccard_chars(x, y) for x, y in zip(a, b)], dtype="float64"
    )


ALL_STRSIM_FUNCTIONS = {
    "text_jaro": text_jaro,
    "text_jarowinkler": text_jarowinkler,
    "text_damerau": text_damerau,
    "text_hamming": text_hamming,
    "text_jaccard_chars": text_jaccard_chars,
}
