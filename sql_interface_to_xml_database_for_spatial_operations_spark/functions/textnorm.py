"""Unicode text normalization for the training-data pipeline (r14
continuation): the cleanup pass every real corpus runs BEFORE
tokenization — mixed NFC/NFD sources make byte-level BPE ids diverge
for visually-identical text, so normalization order is a correctness
property of the whole tokenize → dedup → pack chain (q172).

- ``text_nfc(s)`` — Unicode NFC (canonical composition), the form
  DuckDB's ``nfc_normalize`` implements (the q172 oracle runs the two
  engines' INDEPENDENT implementations against each other).
- ``text_nfkc(s)`` — NFKC (compatibility composition: ligatures,
  fullwidth forms, superscripts fold); no DuckDB twin, so it is
  unit-test-pinned only.
- ``text_strip_accents(s)`` — NFD then drop combining marks
  (category Mn), byte-for-byte DuckDB ``strip_accents`` on the pinned
  probe set (ø/Œ/– style non-decomposable letters pass through on
  both sides).

Map-only Arrow-batched pandas UDFs over stdlib ``unicodedata`` —
deterministic across workers (one CPython unicode version per
cluster image; the pinned probes catch a version drift loudly).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def nfc(s) -> str | None:
    if s is None:
        return None
    return unicodedata.normalize("NFC", str(s))


def nfkc(s) -> str | None:
    if s is None:
        return None
    return unicodedata.normalize("NFKC", str(s))


def strip_accents(s) -> str | None:
    if s is None:
        return None
    return "".join(
        c
        for c in unicodedata.normalize("NFD", str(s))
        if not unicodedata.combining(c)
    )


def _wrap(fn):
    @pandas_udf(StringType())
    def udf(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            try:
                out.append(fn(v))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=object)

    return udf


text_nfc = _wrap(nfc)
text_nfkc = _wrap(nfkc)
text_strip_accents = _wrap(strip_accents)


ALL_TEXTNORM_FUNCTIONS = {
    "text_nfc": text_nfc,
    "text_nfkc": text_nfkc,
    "text_strip_accents": text_strip_accents,
}
