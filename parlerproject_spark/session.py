"""SparkSession factory tuned for this engine.

Defaults target the test harness (local[32], 128 GiB single JVM) but
every setting is chosen to also be correct on a 1000-executor cluster
reading ~100 TB: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), broadcast threshold sized for star-schema dims,
Arrow enabled for the pandas-UDF layer, and UTC session time so
results are reproducible across engines (the DuckDB oracle runs UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds this package: Python workers import the
# engine's worker daemon (and the engine's UDF code) from it wherever
# the driver was started.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# At 100 TB scale these would be set per-cluster; the values here are
# ratios, not absolutes: shuffle partitions ~= 2-3x total cores, and
# maxPartitionBytes kept at 128m so scan tasks stay memory-bounded.
_DEFAULT_CONF = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size mirrors the reference's CPU embedding batch
    # tiers (code/embeddings.py:47-58): large batches for throughput,
    # bounded so a batch of wide text rows fits in executor memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    # The events table stores parquet timestamp[ns]; Spark has no ns
    # timestamp type, so read the raw int64 and convert in the loader
    # (catalog.load_table) with the same µs truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Spark merges this with its own pyspark path and the launching
    # environment's PYTHONPATH for every Python worker.
    "spark.executorEnv.PYTHONPATH": _ENGINE_ROOT,
    # Stock pyspark.daemon, but a zip archive on the workers' path is
    # re-read at task start only when it changed (~0.2 s per task
    # saved; see worker_daemon.py).
    "spark.python.daemon.module": "parlerproject_spark.worker_daemon",
}


def get_spark(app_name: str = "parlerproject-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``overrides`` are applied after defaults, so tests can e.g. drop
    the broadcast threshold to force sort-merge plans.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULT_CONF)
    conf.update({k: str(v) for k, v in overrides.items()})
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
