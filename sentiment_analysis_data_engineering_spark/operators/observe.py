"""Fold driver round-trips into the actions that already run — the
r14 verdict's top finding (guide §5, "minimize driver round-trips"):
the persisted-index verbs, the graph fixed-points and the bisection
loops each ran 2-4 EXTRA driver-sequential jobs per step (a count
here, a collect there) over frames a checkpoint or write job had just
materialized. Spark's ``Observation`` API attaches aggregate metrics
to a plan node and delivers them when the FIRST action over that plan
completes — so the count/collect rides the materialization job
instead of being a second (or third) cluster-wide barrier. At 100 TB
each removed job is a full driver round-trip (scheduling + barrier)
that does not shrink with cluster size.

Contract notes, pinned by tests/test_observe.py:

- ``localCheckpoint(eager=True)`` and DataFrame writes (parquet/noop)
  both deliver observed metrics in Spark 4.x (both route through
  ``Dataset.withAction``); ``Observation.get`` blocks until delivery.
- Only the FIRST action over the observed plan reports; re-reading a
  checkpointed frame later neither blocks nor changes the metrics.
- Metrics must be aggregate expressions without distinct aggregates;
  ``collect_set`` is allowed (used for bounded cell/width sets — the
  same bounded-model-state class as the collects it replaces).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation

__all__ = [
    "checkpoint_with_metrics",
    "write_with_metrics",
    "spark_job_count",
    "codegen_compile_count",
]


def _delivered(obs: Observation, defaults: dict | None) -> dict:
    """The observed metrics, or ``defaults`` when the optimizer
    eliminated the metrics node. When AQE proves a subtree empty at
    runtime (``PropagateEmptyRelation`` behind a shuffle boundary) the
    final plan no longer carries the CollectMetrics node and the
    delivered row is EMPTY — which by construction means the observed
    frame had zero rows, so the caller's zero-row defaults are the
    exact values. ``Observation.get`` blocks until the action completes;
    on the empty row (it carries no schema) pyspark's row conversion
    fails a JVM assertion, which is the one failure mapped to
    ``defaults`` here."""
    try:
        return obs.get
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
        if defaults is None:
            raise RuntimeError(
                "observed metrics were eliminated (empty plan) and no "
                "zero-row defaults were provided"
            ) from exc
        return dict(defaults)


def checkpoint_with_metrics(
    df: DataFrame, defaults: dict | None = None, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint(eager=True)`` with aggregate ``metrics``
    computed INSIDE the materialization job (one action instead of
    1 + len(metrics) sequential ones). Returns ``(checkpointed_df,
    {name: value})``. The observe node is a pass-through: the
    checkpointed rows and schema are unchanged. Aggregates over an
    empty frame deliver SQL semantics (count → 0, sum/max → None) —
    callers coalesce; ``defaults`` only matters when the whole plan
    is optimizer-proven empty (see :func:`_delivered`)."""
    obs = Observation()
    ck = df.observe(
        obs, *[c.alias(k) for k, c in metrics.items()]
    ).localCheckpoint(eager=True)
    return ck, _delivered(obs, defaults)


def write_with_metrics(
    df: DataFrame, write, defaults: dict | None = None, **metrics: Column
) -> dict:
    """Run ``write(observed_df)`` (a callable performing the actual
    ``.write...`` action) with aggregate ``metrics`` computed inside
    the write job — the staged-write row counts that previously cost a
    separate localCheckpoint + count pair now ride the write itself.
    Returns ``{name: value}``. Pass zero-row ``defaults`` whenever the
    written frame can be empty: an empty frame behind the write's
    shuffle is empty-propagated by AQE and the metrics node is dropped
    (pinned by tests/test_observe.py)."""
    obs = Observation()
    write(df.observe(obs, *[c.alias(k) for k, c in metrics.items()]))
    return _delivered(obs, defaults)


def spark_job_count(spark) -> int:
    """Total Spark jobs this application has SUBMITTED so far — the
    instrumentation behind the per-verb job-count laws (the r14
    scaling data showed the index verbs were driver-job-bound: 8 cores
    beat 32). Reads the DAGScheduler's monotone job-id counter (py4j
    converts the AtomicInteger through Number → int), which unlike the
    UI status store never evicts old entries, so deltas stay exact
    over long sessions."""
    sc = spark.sparkContext
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def codegen_compile_count(spark) -> int:
    """Total generated classes this JVM has COMPILED so far (Janino
    runs, i.e. misses of Spark's generated-class cache). Reads the
    sample count of ``CodegenMetrics.METRIC_COMPILATION_TIME``, which
    ``CodeGenerator`` updates once per compilation and which, like the
    job counter, only grows — so a delta around a warm re-run counts
    the classes the cache failed to keep (``session.get_spark`` sizes
    it). The counter is JVM-wide: it also counts compilations of other
    sessions and threads in the same JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
