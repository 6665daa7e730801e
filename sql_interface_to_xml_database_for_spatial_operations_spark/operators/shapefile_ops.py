"""Driver row for the Esri Shapefile source (sources/shapefile.py):
write two nation-derived .shp/.dbf layer pairs, read them back
DISTRIBUTED through ``read_shapefile`` (binaryFile → mapInPandas, one
task per layer file), and project the decoded columns against a
DuckDB oracle that rebuilds every value in closed form.

Fixture (per nation key k, region r): a 4×4 box polygon anchored at
(10r, k) — EVEN keys carry a unit CW hole at (+1, +1), exercising the
ESRI winding round trip (writer flips to CW-shell/CCW-hole file
order, reader normalizes back to the engine's OGC CCW-shell/CW-hole
convention) — plus dbf attributes across all four field types:
``KEY`` N(10,0) = k, ``NAME`` C(25) = n_name, ``SCORE`` N(12,3) =
k + 0.25·(r % 4) (dyadic-exact through the fixed-decimal text round
trip), ``FLAG`` L = (k even). Rows split across an even and an odd
layer file (the q99 two-file idiom: multi-file ingest + the
all-headers layout agreement check, never first-file sniffing).

Columns: gid (the .shp record number — position within each file,
(k − k%2)/2 + 1 in closed form), key, name, score, flag, wkt, and
area = ST_Area (15 for holed even keys, 16 for odd).

The 25-row collect is the file GENERATOR, not the query path — the
read itself is distributed. Scale notes in the source module
docstring (per-file parallelism; 2 GB format cap makes files the
right granularity).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import _scratch_dir
from .registry import query
from ..sources.shapefile import write_shapefile
from ..sources.tables import load_table

_FIELDS = [
    ("KEY", "N", 10, 0),
    ("NAME", "C", 25, 0),
    ("SCORE", "N", 12, 3),
    ("FLAG", "L", 1, 0),
]


def _poly(k: int, r: int) -> str:
    x0, y0 = 10 * r, k
    shell = (
        f"({x0} {y0}, {x0 + 4} {y0}, {x0 + 4} {y0 + 4}, "
        f"{x0} {y0 + 4}, {x0} {y0})"
    )
    if k % 2 == 0:
        hole = (
            f"({x0 + 1} {y0 + 1}, {x0 + 1} {y0 + 2}, {x0 + 2} {y0 + 2}, "
            f"{x0 + 2} {y0 + 1}, {x0 + 1} {y0 + 1})"
        )
        return f"POLYGON ({shell}, {hole})"
    return f"POLYGON ({shell})"


_Q182_ORACLE = """
    WITH n AS (
        SELECT n_nationkey AS k, n_regionkey AS r, n_name AS name
        FROM nation
    )
    SELECT CAST((k - k % 2) / 2 + 1 AS BIGINT) AS gid,
           CAST(k AS BIGINT) AS key,
           name,
           k + 0.25 * (r % 4) AS score,
           k % 2 = 0 AS flag,
           'POLYGON ((' ||
             CAST(10 * r AS VARCHAR) || ' ' || CAST(k AS VARCHAR) || ', ' ||
             CAST(10 * r + 4 AS VARCHAR) || ' ' || CAST(k AS VARCHAR) || ', ' ||
             CAST(10 * r + 4 AS VARCHAR) || ' ' || CAST(k + 4 AS VARCHAR) || ', ' ||
             CAST(10 * r AS VARCHAR) || ' ' || CAST(k + 4 AS VARCHAR) || ', ' ||
             CAST(10 * r AS VARCHAR) || ' ' || CAST(k AS VARCHAR) || ')' ||
             CASE WHEN k % 2 = 0 THEN
               ', (' ||
               CAST(10 * r + 1 AS VARCHAR) || ' ' || CAST(k + 1 AS VARCHAR) || ', ' ||
               CAST(10 * r + 1 AS VARCHAR) || ' ' || CAST(k + 2 AS VARCHAR) || ', ' ||
               CAST(10 * r + 2 AS VARCHAR) || ' ' || CAST(k + 2 AS VARCHAR) || ', ' ||
               CAST(10 * r + 2 AS VARCHAR) || ' ' || CAST(k + 1 AS VARCHAR) || ', ' ||
               CAST(10 * r + 1 AS VARCHAR) || ' ' || CAST(k + 1 AS VARCHAR) || ')'
             ELSE '' END || ')' AS wkt,
           CASE WHEN k % 2 = 0 THEN 15.0 ELSE 16.0 END AS area
    FROM n
"""


@query("q182_shapefile_roundtrip", oracle=_Q182_ORACLE)
def q182_shapefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapefile source end to end (module docstring fixture)."""
    from ..sources.shapefile import read_shapefile

    rows = sorted(
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey", "n_name")
        .collect(),
        key=lambda x: x.n_nationkey,
    )
    out_dir = _scratch_dir("q182_shp", sf_dir)
    for tag, part in (("even", rows[0::2]), ("odd", rows[1::2])):
        recs = [
            (
                _poly(x.n_nationkey, x.n_regionkey),
                x.n_nationkey,
                x.n_name,
                x.n_nationkey + 0.25 * (x.n_regionkey % 4),
                x.n_nationkey % 2 == 0,
            )
            for x in part
        ]
        write_shapefile(recs, _FIELDS, os.path.join(out_dir, f"{tag}.shp"))
    df = read_shapefile(spark, out_dir)
    return df.select(
        F.col("gid"),
        F.col("KEY").alias("key"),
        F.col("NAME").alias("name"),
        F.col("SCORE").alias("score"),
        F.col("FLAG").alias("flag"),
        F.col("geometry").alias("wkt"),
        F.expr("st_area(geometry)").alias("area"),
    )
