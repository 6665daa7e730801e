"""Driver-environment simulation: the round driver builds its OWN vanilla
SparkSession (no ``get_spark`` confs), so the package must work on a bare
session too. Round 2 shipped 9 red CORRECTNESS rows because the
TIMESTAMP(NANOS) ``events.parquet`` read only worked under ``get_spark``'s
session-level ``spark.sql.legacy.parquet.nanosAsLong`` — this module
guarantees that failure class cannot recur.

Runs in a subprocess so the bare session cannot reuse (or poison) the
shared ``get_spark`` JVM/session used by the rest of the suite.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_SCRIPT = r"""
import sys

sys.path.insert(0, {repo!r})

from pyspark.sql import SparkSession

# Deliberately NOT get_spark(): mirror the driver's vanilla session.
spark = (
    SparkSession.builder.master("local[2]")
    .appName("vanilla-driver-sim")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

import __spark_entry__ as e

qs = e.queries()
sf = {sf_dir!r}

# Smoke: flagship entry.
assert e.entry(spark).count() >= 0

# One events-family query (the r2 failure class: TIMESTAMP(NANOS) load).
assert qs["q75_tumbling_window"](spark, sf).count() > 0

# One spatial UDF query (exercises the query hook's register_all on a bare
# session).
assert qs["q44_spatial_join_within"](spark, sf).count() > 0

# One file-ingest round trip (read_xml's mapInPandas + rdd-json inference
# must not depend on get_spark-only confs either).
assert qs["q99_xml_roundtrip"](spark, sf).count() > 0

# WKB codec (r7 failure class: Spark 4.1 ships flag-gated geospatial
# BUILTINS named st_asbinary / st_geomfromwkb / st_srid; builtin
# resolution precedes session functions, so on a vanilla session the
# names throw GEOSPATIAL_DISABLED unless registration REPLACES them —
# udf.register does, and this pins it).
assert qs["q140_wkb_roundtrip"](spark, sf).count() > 0

spark.stop()
print("VANILLA_OK")
"""


def test_driver_vanilla_session_runs_entry_events_and_spatial():
    script = _SCRIPT.format(repo=REPO, sf_dir=SF_DIR)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        f"vanilla-session run failed:\nstdout:\n{proc.stdout[-4000:]}\n"
        f"stderr:\n{proc.stderr[-4000:]}"
    )
    assert "VANILLA_OK" in proc.stdout
