"""Output checks: registry rows against their DuckDB oracle, kinerja queries
against the answers the generator computed."""

from __future__ import annotations

import json
import math
import os

import pandas as pd


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and type-insensitive normal form of a result frame: sorted
    columns, every value a string (floats via repr, NULL/NaN as <N>), rows
    sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    f = df.apply(
        lambda c: c.map(
            lambda v: "<N>"
            if v is None or (not hasattr(v, "__len__") and pd.isna(v))
            else (repr(v) if isinstance(v, float) else str(v))
        )
    )
    return f.sort_values(by=list(f.columns), ignore_index=True) if len(f) else f


class Oracle:
    """DuckDB views over the generated fixture tables."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")

    def matches(self, got: pd.DataFrame, oracle_sql: str) -> bool:
        want = self.con.sql(oracle_sql).df()
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            return False
        return _norm(got).equals(_norm(want))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(float(a), float(b), rel_tol=1e-9)
    return a == b


def _same(got: list, want: list) -> bool:
    got = sorted(got, key=lambda r: json.dumps(r, default=str))
    want = sorted(want, key=lambda r: json.dumps(r, default=str))
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


def kinerja_matches(query: str, result: dict, expected: list) -> bool:
    """Compare a process_query result with the generator's answer. Q-D1
    is checked through the GeoJSON FeatureCollection the engine builds."""
    if query == "D1":
        feats = result.get("geojson", {}).get("features", [])
        got = [
            [f["properties"]["id"], f["properties"]["nama"], f["geometry"]["coordinates"]]
            for f in feats
        ]
        return len(got) == len(expected) and all(
            g[0] == w[0] and g[1] == w[1] and all(_close(float(x), y) for x, y in zip(g[2], w[2]))
            for g, w in zip(sorted(got, key=lambda r: r[0]), expected)
        )
    fields = result["fields"]
    got = [[r[f] for f in fields] for r in result["rows"]]
    return _same(got, expected)
