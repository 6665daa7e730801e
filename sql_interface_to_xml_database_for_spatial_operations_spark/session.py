"""SparkSession factory with scale-oriented defaults.

The reference executes everything in one Node.js process + PostgreSQL
(SURVEY.md §4); here the engine IS Spark, so session configuration is where
the 100 TB design choices live:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- Arrow for every pandas-UDF / toPandas boundary (the spatial + pipeline
  UDFs are vectorized, never row-at-a-time);
- shuffle partitions sized for the local test harness; on a real cluster
  AQE coalesces from a deliberately high initial number instead;
- Python workers fork from the package's own daemon (``_daemon.py``),
  which keeps a reused worker from re-reading ``pyspark.zip``'s
  directory before every task. The workers find the package through
  ``spark.executorEnv.PYTHONPATH``, so UDFs work from any working
  directory. A caller-supplied session keeps the stock
  ``pyspark.daemon``: correct, only slower per task. On a cluster the
  package must be importable when an executor starts the daemon
  (installed, or on the executors' ``PYTHONPATH``): ``--py-files``
  reach a worker only with its first task.

Reading ``pythonInitTime`` (an ``ArrowEvalPythonExec`` SQL metric): for
a reused worker it is NOT start-up. The daemon calls the worker's
``main()`` as soon as the previous task ends, and ``main()`` stamps its
boot time before it blocks waiting for the next task, so the metric is
the worker's idle time between tasks plus the per-task set-up.

DataFrame call sites: a session built here sets
``spark.python.sql.dataFrameDebugging.enabled=false``. With it on (the
PySpark default), every ``Column``/``functions``/``DataFrame`` call is
wrapped to record its Python ``file:line`` on the JVM: it walks the
Python stack and costs about 8 py4j round trips (active-session lookup,
JVM class lookup, a conf read, origin set and clear). Building a
registry row makes hundreds of such calls, so with the flag on they
are most of its driver time. The one loss is that DataFrame-API errors no longer carry
the Python "DataFrame context"; errors in SQL text keep their SQL
position context. PySpark reads the flag once per process, at the first
wrapped call (``pyspark.errors.utils.is_debugging_enabled``), and
caches it. A caller-supplied session keeps its own setting; a user who
wants the DataFrame context must set the flag to true on their own
session before the process makes any DataFrame call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "spatial-sql-engine", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, drop ``master`` and submit normally — every setting
    below is master-agnostic. ``spark.sql.shuffle.partitions`` is a floor;
    AQE coalesces small shuffles and splits skewed ones at runtime.
    """
    cpus = cpus or DEFAULT_CPUS
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # In local mode the driver JVM hosts every executor thread; the
        # Spark default of 1g silently throttled (and could OOM) the
        # iterative operators' checkpoint storage. Only effective when
        # the session is created by this factory BEFORE any JVM exists —
        # a caller-supplied vanilla session keeps its own setting, so
        # nothing here may be REQUIRED for correctness at the driver's
        # verification scale (sf0.01).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # --- Adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Shuffle sizing ---------------------------------------------
        .config("spark.sql.shuffle.partitions", cpus)
        # 128 MiB split targets keep scan tasks uniform at any input size.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- Python boundary: always Arrow, never per-row ----------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Older testdata generations carry events.ts as TIMESTAMP(NANOS),
        # which Spark's parquet reader rejects by default; read as long and
        # convert in the loader (sources.tables.load_table normalizes both
        # the nanos-long and TIMESTAMP_NTZ-micros generations).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast joins for dimension tables (explicit hints added too).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Python workers: see the module docstring ---------------------
        .config("spark.python.daemon.module", f"{__package__}._daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        # --- No per-call call-site capture: see the module docstring ------
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Quieter local runs; harmless on a cluster.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
