"""SparkSession factory.

Single place where engine-level Spark configuration lives, so every
entry point (tests, bench, driver contract) runs with the same stance:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting and dynamic broadcast decisions. At 100 TB this is what
  turns a statically mis-sized shuffle into a usable plan.
- **Dynamic partition overwrite** — the reference's delete+insert
  upsert (``weekly_dag.py:131-147``) becomes an atomic-per-partition
  ``INSERT OVERWRITE`` of only the touched (year, month) partitions.
- **UTC session timezone** — Spark timestamps are session-tz; the
  DuckDB oracle is UTC-naive. Pinning UTC makes them agree.
- **Arrow on** — every pandas_udf / mapInPandas / toPandas crossing
  is Arrow-batched, never per-row pickled.
- **Python workers import pyspark from its installed directory** —
  ``worker_daemon`` drops Spark's archives from the workers' path,
  so a task's start-up re-reads no zip directory; the package's parent
  directory rides the workers' ``PYTHONPATH``, so workers import the
  package (and the daemon) from any working directory. On a cluster
  the package must be installed on the executors.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory that holds the package: Spark appends it to the
# workers' PYTHONPATH after its own entries.
_PACKAGE_ROOT = str(Path(__file__).resolve().parents[1])


def get_spark(
    app_name: str = "sentiment_analysis_data_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit and the
    shuffle-partition count should be sized to ~2-3x total cores (or
    left to AQE's initial value); locally we default to ``local[N]``
    with N from ``$SPARK_GRAFT_CPUS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Adaptive execution: coalesce small shuffle partitions, split skewed
        # ones, and convert to broadcast joins at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Replace only the partitions present in the incoming frame on
        # INSERT OVERWRITE — the engine's replace_partition writer relies
        # on this (sources/io.py).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas interchange (pandas_udf, mapInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Every fixture SF stores events.ts as timestamp[us], and
        # plans.registry.load_tables picks the declared schema from the
        # footer. Older fixture releases stored TIMESTAMP(NANOS), which an
        # inferring parquet read rejects unless it reads them as a bigint.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers: import the package from any working directory,
        # and pyspark from its installed directory (worker_daemon.py).
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
