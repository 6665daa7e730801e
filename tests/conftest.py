"""Shared test fixtures: one SparkSession per test run + oracle-parity
helpers replicating the driver's DuckDB comparison (row count + schema +
order-insensitive values)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_interface_to_xml_database_for_spatial_operations_spark import get_spark  # noqa: E402
from sql_interface_to_xml_database_for_spatial_operations_spark.functions.families import (  # noqa: E402
    register_all,
)
from sql_interface_to_xml_database_for_spatial_operations_spark.sources.tables import (  # noqa: E402
    TABLES,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    register_all(s)
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, value-normalized frame (mirrors the
    driver's order-insensitive compare)."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if pd.isna(v):
            return "<NULL>"
        if isinstance(v, float):
            return f"{v!r}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(str(x) for x in v) + "]"
        return str(v)

    out = df.apply(lambda col: col.map(norm))
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out) else out


def assert_parity(spark_df, oracle_con, sql: str, name: str = "query") -> None:
    sdf = spark_df.toPandas()
    odf = oracle_con.sql(sql).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: column mismatch spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: row count spark={len(sdf)} oracle={len(odf)}"
    ns, no = _normalize(sdf), _normalize(odf)
    if not ns.equals(no):
        diff_mask = (ns != no).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch; first diffs:\n"
            f"spark:\n{ns[diff_mask].head(5)}\noracle:\n{no[diff_mask].head(5)}"
        )


def jobs_in_group(spark, fn):
    """(result of ``fn()``, Spark jobs it launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def py4j_round_trips(fn):
    """(result of ``fn()``, py4j call commands it sent to the JVM).

    Counts commands sent through ``ClientServerConnection.send_command``;
    the garbage-collection detach messages py4j sends when a Python proxy
    dies are not calls and are skipped."""
    from py4j import clientserver, protocol

    detach = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    send = clientserver.ClientServerConnection.send_command
    sent = [0]

    def counting(self, command):
        if not command.startswith(detach):
            sent[0] += 1
        return send(self, command)

    clientserver.ClientServerConnection.send_command = counting
    try:
        out = fn()
    finally:
        clientserver.ClientServerConnection.send_command = send
    return out, sent[0]
