"""SparkSession builder tuned for this engine.

Local defaults match the test/bench environment (single JVM, local[N]);
cluster deployments override master/memory via spark-submit conf. The
settings below are the scale-relevant ones: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for every pandas-UDF edge, UTC
session time so event-time semantics are zone-stable across engines.

Python workers fork from this package's ``worker_daemon`` module, not from
``pyspark.daemon``. Before CPython 3.13, the ``importlib.invalidate_caches()``
call at the start of every task makes each of a worker's 14-16 zip importers
re-read the 1,328-entry directory of ``pyspark.zip`` (0.11-0.14 CPU-s per
task on a 4-vCPU host); the module makes that re-read happen only when the archive changed
(3.13's own semantics, so it changes nothing there) and then runs
``pyspark.daemon``. The workers must therefore be able to import this
package, through the working directory (``python -m`` puts it first on
``sys.path``) or ``PYTHONPATH``. They must already: the package's UDFs are
pickled by reference.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "prometheus-pulsar-remote-write-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # local mode: shuffle partitions ~ cores; a real cluster would size this
    # to ~2-3x total executor cores (or rely on AQE coalescing from a high
    # initial value).
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Python workers warm across pandas-UDF stages: re-forking per
        # stage made repeated mapInPandas plans (MinHash signatures) bimodal
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module", "prometheus_pulsar_remote_write_spark.worker_daemon")
        # historical testdata carried TIMESTAMP(NANOS); the flag reads those
        # as epoch-nanos longs (schema.load_tables converts back to
        # TimestampType at micros, the same truncation DuckDB applies) and
        # is a no-op for the current TIMESTAMP(MICROS) files
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
