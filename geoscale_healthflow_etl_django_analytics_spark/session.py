"""SparkSession factory.

Scale stance: this engine targets a multi-executor cluster reading
~100 TB; locally it runs ``local[N]``. Every default below is chosen
so the *same* code scales without edits:

- AQE on (runtime coalescing, skew-join splitting, join re-planning).
- Shuffle partitions sized from available cores locally; on a real
  cluster override via ``SPARK_SHUFFLE_PARTITIONS`` (rule of thumb:
  2-3x total executor cores, or let AQE coalesce from a high value).
- Parquet filter pushdown + aggregate pushdown on, so predicates and
  MIN/MAX/COUNT reach the scan.
- ``nanosAsLong`` because the synthetic feeds write nanosecond
  parquet timestamps (Spark has no nanos type; sources/catalog.py
  converts to timestamp_ntz at microsecond precision, which is
  exactly what DuckDB's TIMESTAMP does).
- Session timezone pinned to UTC so calendar functions over
  timestamps are engine-independent.
- The SQL warehouse lives under ``catalog.FIXTURE_ROOT`` with every
  other file a builder writes, so touching the catalog never leaves a
  ``spark-warehouse/`` in the caller's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .sources.catalog import FIXTURE_ROOT


def default_parallelism() -> int:
    """Local core budget; the driver exports SPARK_GRAFT_CPUS."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "healthflow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", max(cpus, 8))
        )
    # Python worker daemon with pandas/pyarrow/numpy PRE-IMPORTED
    # (daemon_preload.py; guide §4.5 — heavyweight init once, not per
    # worker): forked workers inherit the loaded modules, so refilling
    # a GC-reaped idle pool costs forks, not one import chain per
    # task slot (r12 measured 2-6 s/task of exactly that).  The
    # daemon module must be importable by the worker interpreter;
    # local mode inherits the driver environment, so prepend this
    # package's parent dir to PYTHONPATH before the JVM launches.  On
    # a cluster, ship the package (--py-files / executor image) or
    # disable via SPARK_GRAFT_PRELOAD_DAEMON=0.
    if os.environ.get("SPARK_GRAFT_PRELOAD_DAEMON", "1") != "0":
        pkg_parent = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_parent not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_parent + (os.pathsep + existing if existing else "")
            )
        extra_conf = dict(extra_conf or {})
        extra_conf.setdefault(
            "spark.python.daemon.module",
            "geoscale_healthflow_etl_django_analytics_spark.daemon_preload",
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode heap: all "executors" share the driver JVM, whose
        # 1g default OOMs well below the machine's RAM (the r5 scale
        # bench hit this at 10x sf0.1). Only effective at JVM launch —
        # set the env var before the first session of the process.
        # 16g default (guide §5, memory per concurrent task): local[32]
        # runs 32 tasks against ONE heap; 8g = 250 MB/core keeps the
        # long bench session under constant full-GC pressure, and each
        # full GC ALSO collects the idle Python worker pool (weakly
        # referenced — see the periodicGC note below), so Python-stage
        # queries re-paid worker spawn every few queries (r12 A/B: the
        # same hot mapInPandas pass 35 s at 8g vs 8 s at 16g, 0.8 s
        # with the pool intact). On a cluster this corresponds to the
        # standard 1-2 GB/core executor sizing; override with
        # SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # DO NOT shorten spark.cleaner.periodicGC.interval below its
        # 30min default: PythonWorkerFactory keeps its reusable idle
        # workers in a WeakHashMap[PythonWorker, ProcessHandle], so
        # every forced full GC collects the idle pool and the monitor
        # thread reaps the processes.  A 5min interval (tried during
        # r12) wiped the pool mid-session and each later mapInPandas
        # stage re-paid ~2-6 s/task of Python worker spawn + imports
        # (measured: 64-worker pool -> 1 after the GC tick; the next
        # 32-task Python stage ran 200 s of executorRunTime against
        # 2.8 s of CPU — pure worker-wait).  Checkpoint-block release
        # is instead covered by the 16g heap above.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims here are tiny vs fact tables; broadcast generously.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # spill-aware scan sizing: 128 MiB input splits keep a task's
        # working set well inside executor memory at any corpus size;
        # AQE's advisory target then governs post-shuffle partitions.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.sql.warehouse.dir", os.path.join(FIXTURE_ROOT, "warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
