"""Registry rows read their tables through ``spark.sql`` DataFrame
arguments, never by replacing temp views: a user's own ``customer``,
``nation`` and ``supplier`` views survive building q17, q34, q35 and
q181, and the rows still match the DuckDB oracle."""

from __future__ import annotations

from sql_interface_to_xml_database_for_spatial_operations_spark import operators
from sql_interface_to_xml_database_for_spatial_operations_spark.operators.registry import (
    QUERIES,
)

from conftest import SF_DIR, assert_parity

operators.load_all()

_ROWS = ("q17_natural_join", "q34_scalar_subquery", "q35_correlated_exists", "q181_fuzzy_match")
_USER_VIEWS = ("customer", "nation", "supplier")


def test_rows_leave_user_views_alone(spark, oracle):
    for i, name in enumerate(_USER_VIEWS):
        spark.sql(f"SELECT {i} AS mine, '{name}' AS label").createOrReplaceTempView(name)
    try:
        before = {v: spark.table(v).collect() for v in _USER_VIEWS}
        for row in _ROWS:
            entry = QUERIES[row]
            assert_parity(entry.fn(spark, SF_DIR), oracle, entry.oracle, row)
        assert {v: spark.table(v).collect() for v in _USER_VIEWS} == before
        names = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        assert set(_USER_VIEWS) <= names
    finally:
        for name in _USER_VIEWS:
            spark.catalog.dropTempView(name)
