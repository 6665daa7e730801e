"""Engine facade: the reference's ``processQuery`` surface, Spark-first.

Reference lifecycle (SURVEY.md §3.1): parse → normalize → pushdown split
→ per-DBMS native queries → fetch → VALUES-inline rebuild → PostgreSQL →
optional GeoJSON conversion (src/index.ts:349-371). Here the entire
lifecycle is ``spark.sql`` + Catalyst; this class supplies the same
*user surface*: register document tables (parquet / GeoJSON / XML), run
SQL with spatial functions, get rowsets or GeoJSON FeatureCollections,
with per-query timing like the reference's demo UI stats
(demo/routes.ts:144-171).

A document registration is a snapshot: the first query that reads the
view parses the document once, and later queries scan the cached
relation. Re-register the name to reload a changed file, and drop the
view (``spark.catalog.dropTempView``) to free it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .functions.families import register_all
from .sources import sinks
from .sources.geojson import read_geojson
from .sources.gpx import read_gpx
from .sources.shapefile import read_shapefile
from .sources.tables import TABLES, load_tables
from .sources.xml import read_xml


@dataclass
class QueryStats:
    """Per-query timing — the engine analog of the reference's
    executionTime / dbms_executionTime / pg_executionTime split."""

    sql: str
    plan_seconds: float
    fetch_seconds: float
    rows: int


@dataclass
class SpatialSQLEngine:
    """Spatial SQL over registered tables and documents.

    ``register_parquet_dir`` registers plain views over parquet, which is
    already columnar and prunable. The document registrations
    (``register_xml``, ``register_geojson``, ``register_shapefile``,
    ``register_gpx``) are lazily cached snapshots: re-register a name to
    reload its file, and ``spark.catalog.dropTempView(name)`` to free
    it. The cache is MEMORY_AND_DISK, so a large NDJSON registration
    spills to local disk; very large corpora belong in parquet via
    ``register_parquet_dir``."""

    spark: SparkSession
    stats: list[QueryStats] = field(default_factory=list)

    def __post_init__(self) -> None:
        # Session-wide table-read confs, set ONCE at engine construction
        # (ADVICE r6): previously only sources/tables.py set these inside
        # the per-table events loader, so in a caller-supplied vanilla
        # session the timestamp rendering of unrelated queries depended
        # on whether events had been loaded first (order-dependent global
        # state). The loader keeps the same calls as a safety net for
        # registry callables that never construct an engine.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        register_all(self.spark)

    # -- table registration (S1-S4 replacement) ---------------------------
    def register_parquet_dir(self, sf_dir: str) -> None:
        for name, df in load_tables(self.spark, sf_dir).items():
            df.createOrReplaceTempView(name)

    def _register_document(self, name: str, df: DataFrame) -> None:
        """Register ``df`` as temp view ``name`` and ``CACHE LAZY`` it.

        No job runs here: the first query that reads the view parses the
        document once into an in-memory columnar relation, and later
        queries scan that instead of re-running the parse."""
        # Re-reading an unchanged path yields a plan that matches the
        # cached one, and Spark then keeps serving the old snapshot (a
        # replaced view is only uncached when its plan differs). Drop any
        # cache of this same plan first, so registering always reloads.
        df.unpersist()
        df.createOrReplaceTempView(name)
        self.spark.sql(f"CACHE LAZY TABLE `{name.replace('`', '``')}`")

    def register_geojson(self, name: str, path: str, lines: bool = False) -> None:
        self._register_document(name, read_geojson(self.spark, path, lines=lines))

    def register_xml(self, name: str, path: str, row_tag: str | None = None) -> None:
        self._register_document(name, read_xml(self.spark, path, row_tag=row_tag))

    def register_shapefile(self, name: str, path: str) -> None:
        self._register_document(name, read_shapefile(self.spark, path))

    def register_gpx(self, name: str, path: str) -> None:
        self._register_document(name, read_gpx(self.spark, path))

    def tables(self) -> list[str]:
        """S8: catalog listing (reference: db:list / listCollections)."""
        return [t.name for t in self.spark.catalog.listTables()]

    # -- query execution --------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        t0 = time.perf_counter()
        df = self.spark.sql(query)
        self.stats.append(
            QueryStats(sql=query, plan_seconds=round(time.perf_counter() - t0, 4), fetch_seconds=0.0, rows=-1)
        )
        return df

    def sql_rows(self, query: str) -> list:
        """S9: rowset result with timing."""
        df = self.sql(query)
        t0 = time.perf_counter()
        rows = df.collect()
        self.stats[-1].fetch_seconds = round(time.perf_counter() - t0, 4)
        self.stats[-1].rows = len(rows)
        return rows

    def process_query(self, query: str, limit: int | None = 10000) -> dict:
        """The reference's full ``processQuery`` behavior (src/index.ts:
        349-371 + demo/routes.ts:144-171): run the SQL, return rows +
        field names + timing stats, and — exactly like the reference —
        when the projection contains ``st_asgeojson`` also return the
        rows wrapped as a GeoJSON FeatureCollection (convertRestoGeoJSON,
        src/index.ts:360-363)."""
        df = self.sql(query)
        t0 = time.perf_counter()
        rows = df.limit(limit).collect() if limit is not None else df.collect()
        self.stats[-1].fetch_seconds = round(time.perf_counter() - t0, 4)
        self.stats[-1].rows = len(rows)
        result = {
            "rows": [r.asDict() for r in rows],
            "fields": df.columns,
            "executionTime": self.stats[-1].plan_seconds + self.stats[-1].fetch_seconds,
            "totalData": len(rows),
        }
        geojson_cols = [
            c for c in df.columns if "st_asgeojson" in c.lower() or c.lower() == "geojson"
        ]
        if geojson_cols:
            import json as _json

            gcol = geojson_cols[0]
            features = []
            for r in rows:
                d = r.asDict()
                geom = d.pop(gcol, None)
                features.append(
                    {
                        "type": "Feature",
                        "properties": d,
                        "geometry": _json.loads(geom) if isinstance(geom, str) else None,
                    }
                )
            result["geojson"] = {"type": "FeatureCollection", "features": features}
        return result

    def process_query_safe(self, query: str, limit: int | None = 10000) -> dict:
        """``process_query`` with the reference's error contract
        (demo/routes.ts:173-186): a failing query returns a payload with
        ``error`` set and the input echoed, instead of raising — the
        shape a UI or API layer renders directly. Analysis errors
        (unknown table/function, syntax) surface the Spark message."""
        try:
            result = self.process_query(query, limit=limit)
            result["error"] = None
            result["input"] = query
            return result
        except Exception as e:  # noqa: BLE001 — the surface IS the catch-all
            return {
                "rows": [],
                "fields": [],
                "executionTime": 0.0,
                "totalData": 0,
                "error": str(e),
                "input": query,
            }

    def explain(self, query: str, mode: str = "formatted") -> str:
        """The debug surface the reference got by printing its rewritten
        XQuery/Mongo/SQL (src/index.ts logs each native query): here the
        single source of truth is Catalyst, so return the physical plan
        (``mode`` ∈ simple/extended/formatted/cost/codegen) — pushdown
        and pruning are directly visible as PushedFilters/ReadSchema."""
        df = self.spark.sql(query)
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)

    def sql_geojson(self, query: str, geometry_col: str = "geometry", limit: int | None = 10000) -> dict:
        """S10: FeatureCollection result (reference: convertRestoGeoJSON,
        src/index.ts:360-363 — triggered there by an st_asgeojson
        projection; here an explicit method)."""
        df = self.sql(query)
        t0 = time.perf_counter()
        fc = sinks.to_feature_collection(df, geometry_col=geometry_col, limit=limit)
        self.stats[-1].fetch_seconds = round(time.perf_counter() - t0, 4)
        self.stats[-1].rows = len(fc["features"])
        return fc


def create_engine(spark: SparkSession, sf_dir: str | None = None) -> SpatialSQLEngine:
    eng = SpatialSQLEngine(spark)
    if sf_dir:
        eng.register_parquet_dir(sf_dir)
    return eng


__all__ = ["SpatialSQLEngine", "create_engine", "QueryStats", "TABLES"]
