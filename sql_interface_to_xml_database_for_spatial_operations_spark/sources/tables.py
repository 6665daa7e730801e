"""Fixture-table loading and view registration.

Replaces the reference's four per-DBMS collection scans (SURVEY.md §2.1
S1-S4: BaseX/eXist XQuery scans, Mongo ``find``, CouchDB ``_find`` with
hand-rolled pagination) with a single partitioned columnar read: Catalyst
gets predicate pushdown + column pruning on every table for free, and the
parquet row-group layout replaces client-side pagination.
"""

from __future__ import annotations

import functools
import os
import stat

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session memos keyed by a source file, kept on the session object
# the way functions/_register_once.py keeps its registration memo.
_MEMO_ATTR = "_graft_file_memo"
# Confs that change the schema Spark infers from the same Parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _file_memo(spark: SparkSession, name: str, path: str, build):
    """``build()`` memoized on ``spark`` for the regular file at ``path``.

    The key is ``name``, the file's realpath, inode, size and mtime and
    the inference confs, so a rewritten file or a changed conf builds
    afresh. A rewritten file's old (inode, size, mtime) stamp cannot
    come back, so adding a key drops the entries of the same (name,
    realpath) under another stamp; entries for other confs under the
    current stamp stay. Returns None, without building, when ``path`` is
    not a regular file; the caller then builds unmemoized."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    file = (name, os.path.realpath(path))
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    key = (*file, *stamp, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    memo = spark.__dict__.setdefault(_MEMO_ATTR, {})
    if key not in memo:
        for stale in [k for k in memo if k[:2] == file and k[2:5] != stamp]:
            del memo[stale]
        memo[key] = build()
    return memo[key]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without re-inferring the schema.

    Inference reads the file footer in a Spark job (about 0.13 s a load,
    against 0.03 s with the schema given). The first load of a regular
    file memoizes its schema on the session (``_file_memo``), so a
    rewritten file or a changed conf infers afresh. Every call builds a
    new relation with fresh attribute ids; the only relations shared
    across calls are the derived base relations of ``shared_relation``.
    Directories and anything else that is not a regular file are
    inferred every time."""
    schema = _file_memo(spark, "schema", path, lambda: spark.read.parquet(path).schema)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def shared_relation(table: str):
    """Memoize ``build(spark, sf_dir)``, a plan derived from fixture
    table ``table`` alone, per session and per file (``_file_memo``).

    A repeat call returns the same DataFrame: the analyzed plan, never
    data. Building it costs tens of py4j round trips and a Parquet
    read, and many rows build the same few base relations. Sharing is
    safe because a DataFrame is immutable, and a row that uses one on
    both sides of a join gets distinct attribute ids from Spark's
    relation de-duplication when it names columns with ``F.col``; a
    bound ``df["c"]`` from each side fails with Spark's ambiguous-column
    error rather than joining wrongly. Confs other than the inference
    confs that the analyzer reads are frozen into the plan by its first
    build, so ``build`` must not depend on them."""

    def deco(build):
        name = f"{build.__module__}.{build.__qualname__}"

        @functools.wraps(build)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            path = os.path.join(sf_dir, f"{table}.parquet")
            df = _file_memo(spark, name, path, lambda: build(spark, sf_dir))
            return build(spark, sf_dir) if df is None else df

        return wrapper

    return deco


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Filters/projections applied downstream reach
    the parquet reader via Catalyst (check ``PushedFilters`` in explain).

    ``events.ts`` has shipped in two physical forms across testdata
    generations, both normalized here to a plain TIMESTAMP (LTZ) column so
    every downstream operator sees one type:

    - TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong`` it
      arrives as a long that we truncate to microseconds (integer ``div``
      — same ns→µs truncation DuckDB applies);
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ, which functions like ``unix_micros`` reject. Cast to
      TIMESTAMP.

    Event time in this engine is DEFINED as naive wall time = UTC, and
    the session timezone is pinned to UTC here to make that hold on any
    host: the NTZ→TIMESTAMP cast and every downstream date_trunc/
    date_format/unix_micros are session-zone-relative, and under a
    DST zone (e.g. a host in America/New_York) wall times inside a
    spring-forward gap would shift by an hour and interval arithmetic
    would warp across transitions — diverging from the DuckDB oracle's
    naive reads (r6 self-review finding). Under UTC the mapping
    wall↔instant is linear and the oracle comparison is exact.

    Both confs are set here at runtime (they are runtime-settable)
    rather than only in ``session.get_spark``: callers such as the
    round driver supply their own vanilla SparkSession, which would
    otherwise die with ``PARQUET_TYPE_ILLEGAL`` on a TIMESTAMP(NANOS)
    events file (and inherit the host zone)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a Python-heavy map stage's input across the session's
    cores (r17 optimization round, guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    The fixture tables are single parquet files that Spark scans as ONE
    partition, so a mapInPandas/pandas-UDF stage downstream ran its
    whole per-row Python compute on one core (measured: q163's JPEG
    encode+decode 2.4 s single-task → 0.7 s fanned out on local[32]).

    Scale-adaptive, not a local constant: when the input already reads
    at least ``defaultParallelism`` files (any real at-scale table),
    this is a NO-OP — no shuffle is added; only an under-partitioned
    input pays one round-robin exchange of the (narrow, pre-projected)
    rows. ``defaultParallelism`` is the session's own core count on
    local[N] and the cluster total on a real deployment.

    The probe is ``inputFiles()`` (leaf-scan metadata, driver-cheap),
    not ``df.rdd.getNumPartitions()`` — the ``.rdd`` conversion forced
    a full physical-plan translation per call (ADVICE r17). File count
    under-estimates the scan partitions of one huge SPLITTABLE file, in
    which case the repartition is redundant but harmless (one narrow
    exchange); every current call site feeds small single-file
    fixtures, and at 100 TB real tables carry >= cores files.

    An input with no files at all (a range, local rows, a cached
    relation) falls back to ``df.rdd.getNumPartitions()``, so an input
    that is already spread out is not shuffled again."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_parts = len(df.inputFiles())
    except Exception:  # exotic sources without file metadata
        n_parts = 0
    if n_parts == 0:
        n_parts = df.rdd.getNumPartitions()
    if n_parts >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view so ``spark.sql`` queries
    (the reference's user surface, SURVEY.md §3.1) see the same catalog the
    DuckDB oracle does."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
