"""Query registry: name → (spark_callable, duckdb_oracle_sql | None).

The driver contract (``__spark_entry__.py``) needs a ``queries()`` dict and
an ``oracle_sql()`` dict whose column names line up exactly; keeping both
halves of each query in one ``@query`` registration makes drift impossible.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..caching import release_tracked

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str = ""


QUERIES: dict[str, RegisteredQuery] = {}

# The driver's per-round correctness check covers the first 50 queries
# in exposure order. A query is verified while its key is in
# _verified_fingerprints.json, whose fingerprint pins the source it was
# verified against (staleness.py; tests/test_registry.py fails on
# drift). Unverified queries are exposed first, then the verified ones,
# each in registration order. To re-expose a query, delete its key; to
# mark one verified after a green driver row, add its key and re-record.
# Read here, not through staleness.py: that module imports every
# operator module, so importing it would put all of them in every
# query's fingerprint closure.
VERIFIED_JSON = os.path.join(os.path.dirname(__file__), "_verified_fingerprints.json")
with open(VERIFIED_JSON, encoding="utf-8") as _fh:
    _DRIVER_VERIFIED: frozenset[str] = frozenset(json.load(_fh))


def _exposure_order() -> list[str]:
    names = list(QUERIES)
    return [n for n in names if n not in _DRIVER_VERIFIED] + [
        n for n in names if n in _DRIVER_VERIFIED
    ]


def query(name: str, oracle: str | None = None):
    """Register a query implementation with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        # Entry hook: drop the previous query's tracked persists (see
        # caching.py) so sequential multi-query runs (the driver's
        # correctness sweep) hold at most one query's intermediates,
        # and register every SQL function family on the session (once
        # per session), so a vanilla caller-supplied session works.
        # The ORIGINAL fn is returned/used for in-package helper calls,
        # so a query composing another query's body never releases its
        # own caches mid-plan.
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from ..functions.families import register_all

            release_tracked()
            register_all(spark)
            return fn(spark, sf_dir)

        wrapped.__doc__ = fn.__doc__
        wrapped.__name__ = fn.__name__
        wrapped.__module__ = fn.__module__  # staleness fingerprints resolve
        wrapped.__wrapped__ = fn  # the defining module, not the registry
        QUERIES[name] = RegisteredQuery(name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def spark_queries() -> dict[str, QueryFn]:
    return {name: QUERIES[name].fn for name in _exposure_order()}


def oracle_queries() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _exposure_order()
        if QUERIES[name].oracle is not None
    }
