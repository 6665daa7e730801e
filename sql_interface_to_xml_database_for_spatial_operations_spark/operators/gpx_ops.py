"""Driver row for the GPX source (sources/gpx.py): write two
nation-derived GPX 1.1 documents (namespaced — exercises the
local-name matching), read them back DISTRIBUTED through ``read_gpx``
(binaryFile → mapInPandas, one task per file), and project the decoded
features against a DuckDB oracle that rebuilds every value in closed
form.

Fixture (per nation key k, region r; nations split across an even and
an odd file, the q99/q182 two-file idiom): four features —

- ``wpt`` at (lon, lat) = (10r + 1, k): EVEN keys carry
  ``<ele>`` k + 100 → POINT Z; odd keys are 2-D POINT. name = n_name,
  time = 'tw#k'.
- ``rte`` of three 2-D rtepts (10r, k) → (10r + 2, k + 1) →
  (10r + 4, k): LINESTRING, name = 'route-k', time (first rtept) =
  'tr#k'.
- ``trk`` 'track-k' with TWO segments: seg 0 = two points with
  ``<ele>`` (k, k + 1) → LINESTRING Z; seg 1 = a single 2-D trkpt →
  the single-point POINT degradation. times 'tk#k' / 'tk1#k'.

Columns: file, kind, seg, name, time, wkt, and rte_npts =
ST_NPoints over the route rows only (pins that decoded GPX geometry
flows straight into the st_* surface).

The 25-row collect is the file GENERATOR, not the query path — the
read itself is distributed (reference parity: the reference ingests
GPX through ogr before loading BaseX, ogr2ogr docs; this reader
closes that loop natively — see sources/gpx.py docstring for the
scale shape)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import _scratch_dir
from .registry import query
from ..sources.tables import load_table


def _wpt(k: int, r: int, name: str) -> str:
    ele = f"<ele>{k + 100}</ele>" if k % 2 == 0 else ""
    return (
        f'<wpt lat="{k}" lon="{10 * r + 1}">{ele}'
        f"<name>{name}</name><time>tw#{k}</time></wpt>"
    )


def _rte(k: int, r: int) -> str:
    x = 10 * r
    return (
        f"<rte><name>route-{k}</name>"
        f'<rtept lat="{k}" lon="{x}"><time>tr#{k}</time></rtept>'
        f'<rtept lat="{k + 1}" lon="{x + 2}"/>'
        f'<rtept lat="{k}" lon="{x + 4}"/></rte>'
    )


def _trk(k: int, r: int) -> str:
    x = 10 * r
    return (
        f"<trk><name>track-{k}</name><trkseg>"
        f'<trkpt lat="{k + 5}" lon="{x}"><ele>{k}</ele>'
        f"<time>tk#{k}</time></trkpt>"
        f'<trkpt lat="{k + 6}" lon="{x + 1}"><ele>{k + 1}</ele></trkpt>'
        f"</trkseg><trkseg>"
        f'<trkpt lat="{k + 7}" lon="{x + 3}"><time>tk1#{k}</time></trkpt>'
        f"</trkseg></trk>"
    )


def _gpx_doc(part) -> str:
    body = "".join(
        _wpt(x.n_nationkey, x.n_regionkey, x.n_name)
        + _rte(x.n_nationkey, x.n_regionkey)
        + _trk(x.n_nationkey, x.n_regionkey)
        for x in part
    )
    return (
        '<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1" '
        f'creator="fixture">{body}</gpx>'
    )


_Q183_ORACLE = """
    WITH n AS (
        SELECT n_nationkey AS k, n_regionkey AS r, n_name AS name
        FROM nation
    ),
    f AS (
        SELECT *,
               CASE WHEN k % 2 = 0 THEN 'even.gpx' ELSE 'odd.gpx' END AS file,
               CAST(10 * r AS VARCHAR) AS x0,
               CAST(k AS VARCHAR) AS y0
        FROM n
    )
    SELECT file, 'wpt' AS kind, CAST(NULL AS INT) AS seg, name,
           'tw#' || y0 AS time,
           CASE WHEN k % 2 = 0
                THEN 'POINT Z (' || CAST(10 * r + 1 AS VARCHAR) || ' ' || y0
                     || ' ' || CAST(k + 100 AS VARCHAR) || ')'
                ELSE 'POINT (' || CAST(10 * r + 1 AS VARCHAR) || ' ' || y0 || ')'
           END AS wkt,
           CAST(NULL AS BIGINT) AS rte_npts
    FROM f
    UNION ALL
    SELECT file, 'rte', CAST(NULL AS INT), 'route-' || y0,
           'tr#' || y0,
           'LINESTRING (' || x0 || ' ' || y0 || ', '
             || CAST(10 * r + 2 AS VARCHAR) || ' ' || CAST(k + 1 AS VARCHAR)
             || ', ' || CAST(10 * r + 4 AS VARCHAR) || ' ' || y0 || ')',
           CAST(3 AS BIGINT)
    FROM f
    UNION ALL
    SELECT file, 'trk', CAST(0 AS INT), 'track-' || y0,
           'tk#' || y0,
           'LINESTRING Z (' || x0 || ' ' || CAST(k + 5 AS VARCHAR) || ' ' || y0
             || ', ' || CAST(10 * r + 1 AS VARCHAR) || ' '
             || CAST(k + 6 AS VARCHAR) || ' ' || CAST(k + 1 AS VARCHAR) || ')',
           CAST(NULL AS BIGINT)
    FROM f
    UNION ALL
    SELECT file, 'trk', CAST(1 AS INT), 'track-' || y0,
           'tk1#' || y0,
           'POINT (' || CAST(10 * r + 3 AS VARCHAR) || ' '
             || CAST(k + 7 AS VARCHAR) || ')',
           CAST(NULL AS BIGINT)
    FROM f
"""


@query("q183_gpx_roundtrip", oracle=_Q183_ORACLE)
def q183_gpx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPX source end to end (module docstring fixture)."""
    from ..sources.gpx import read_gpx

    rows = sorted(
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey", "n_name")
        .collect(),
        key=lambda x: x.n_nationkey,
    )
    out_dir = _scratch_dir("q183_gpx", sf_dir)
    for tag, part in (("even", rows[0::2]), ("odd", rows[1::2])):
        with open(os.path.join(out_dir, f"{tag}.gpx"), "w") as fh:
            fh.write(_gpx_doc(part))
    df = read_gpx(spark, out_dir)
    return df.select(
        "file",
        "kind",
        "seg",
        "name",
        "time",
        F.col("geometry").alias("wkt"),
        F.expr(
            "CASE WHEN kind = 'rte' THEN st_npoints(geometry) END"
        ).alias("rte_npts"),
    )
