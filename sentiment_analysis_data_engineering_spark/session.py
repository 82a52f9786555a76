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
- **Generated classes stay compiled** — whole-stage code generation
  compiles each stage's Java source with Janino and caches the class,
  keyed on the source. Spark keeps 100 classes, and the registry
  compiles 2,273 distinct ones over sf0.001 and sf0.01 (2,256 at
  sf0.001 alone), so a warm pass evicted and recompiled about 3,960 of
  them and the JIT compiled the fresh classes again. The cache holds
  4096, and class names carry no codegen stage id: AQE numbers codegen
  stages as it plans each query stage at run time, so on a re-run the
  same pipeline can get another number and compile again under that
  name. A warm registry pass now compiles about a dozen classes, for
  about 18 MB more metaspace. Both confs are static: a vanilla session
  keeps Spark's defaults.
- **A small local driver runs one C2 compiler thread** — a pass of
  the engine's short jobs spends most of its CPU in HotSpot's JIT, not
  in tasks: on a 4-core host the JVM starts one C1 and two C2 threads,
  and C2 took about half of a cold DAG run's CPU. With two compiler
  threads (one C1, one C2) the tiered policy compiles newly warm
  methods at level 2 while the C2 queue is long, so C2 spends its time
  on the code that stays hot. The flag is set only where it was
  measured: a ``local[N]`` master of at most 4 task threads on a host
  of fewer than 8 processors, where HotSpot's own default is at most
  three threads, so the flag takes away at most one C2 thread. A larger
  master (the 8- and 32-core bench) or host keeps the JVM's default.
  The flag goes first in ``spark.driver.extraJavaOptions``: HotSpot
  takes the last of a repeated flag, so a caller's own
  ``-XX:CICompilerCount`` wins, and ``spark.driver.defaultJavaOptions``
  stays free for a site's ``spark-defaults.conf``. Executor JVMs on a
  cluster keep the JVM's default, where long tasks repay C2's work.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory that holds the package: Spark appends it to the
# workers' PYTHONPATH after its own entries.
_PACKAGE_ROOT = str(Path(__file__).resolve().parents[1])


def _driver_java_options(master: str, caller: str | None) -> str | None:
    """The driver JVM's ``extraJavaOptions``: the caller's, after one C1
    and one C2 JIT thread when the session is a ``local[N]`` one of at
    most 4 task threads on a host of fewer than 8 processors (docstring
    above)."""
    small = re.fullmatch(r"local\[[1-4]\]", master) and (os.cpu_count() or 8) < 8
    return " ".join(filter(None, ["-XX:CICompilerCount=2" if small else None, caller])) or None


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
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
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
        # Keep every registered query's generated classes compiled
        # (docstring above: 2,273 distinct classes, ~18 MB metaspace).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers: import the package from any working directory,
        # and pyspark from its installed directory (worker_daemon.py).
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    conf = dict(extra_conf or {})
    java = _driver_java_options(master, conf.pop("spark.driver.extraJavaOptions", None))
    if java:
        conf["spark.driver.extraJavaOptions"] = java
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
