"""Per-layer measurement from outside the engine.

Nothing here edits a package file. Each layer is measured at its
boundary:

- ``load_tables`` and the ``sources.io`` writers are timed by wrapping
  the name each importing module bound (``plans.*.load_tables``,
  ``plans.pipelines.idempotent_append`` / ``upsert_partitions``);
- Spark jobs are counted from the DAG scheduler's job-id counter and
  tagged per operation with a job group;
- scheduler and executor figures come from Spark's status store, which
  is filled even with the UI off;
- Catalyst phase times come from ``queryExecution().tracker()``;
- Arrow/Python boundary figures come from the SQL metrics of the Python
  exec nodes, as the SQL status store renders them.

The probes time themselves: ``trace.overhead_s`` is the time spent in
them, measured directly, because the difference between a traced and an
untraced pass is smaller than the noise between two passes.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

#: fields of every traced operation record, besides the caller's own
RECORD_KEYS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.driver_gap_s",
    "python.data_sent_bytes", "python.data_received_bytes", "python.rows_received",
    "python.boot_s", "python.init_s", "python.total_s",
]

#: SQL metric display names on Spark's Python exec nodes -> layer metric
PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
    "number of output rows": "python.rows_received",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Number behind a rendered SQL metric: the total on the line after
    ``total (min, med, max ...)`` when present, else the whole value.
    Sizes become bytes and times seconds."""
    line = text.split("\n")[-1].strip()
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def job_count(spark) -> int:
    """Jobs submitted so far: the DAG scheduler's monotone job-id counter."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class Layers:
    """Per-layer counters for one traced run; :meth:`take` returns the
    totals since the last call, so callers sum them per pass."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = self._sc._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._wrapped: list[tuple[object, str, object]] = []
        self.totals: dict[str, float] = defaultdict(float)
        self._op = 0
        #: whether the wrappers count; off for untraced passes
        self.active = True

    # -- wrapped module names -------------------------------------------

    def wrap(self, module, name: str, key: str, count=None) -> None:
        """Replace ``module.name`` by a wrapper adding its seconds and
        jobs to ``<key>.s`` / ``<key>.jobs``; ``count(totals, args, out)``
        adds any further counts."""
        orig = getattr(module, name)
        totals = self.totals

        def timed(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            j0 = self.jobs()
            t0 = time.perf_counter()
            out = orig(*args, **kwargs)
            totals[f"{key}.s"] += time.perf_counter() - t0
            totals[f"{key}.jobs"] += self.jobs() - j0
            if count is not None:
                count(totals, args, out)
            return out

        setattr(module, name, timed)
        self._wrapped.append((module, name, orig))

    def unwrap(self) -> None:
        for module, name, orig in reversed(self._wrapped):
            setattr(module, name, orig)
        self._wrapped.clear()

    def take(self) -> dict[str, float]:
        out = dict(self.totals)
        self.totals.clear()
        return out

    def _overhead(self, t0: float) -> None:
        self.totals["trace.overhead_s"] += time.perf_counter() - t0

    def jobs(self) -> int:
        """:func:`job_count`, timed as probe overhead."""
        t0 = time.perf_counter()
        n = job_count(self.spark)
        self._overhead(t0)
        return n

    # -- one operation ----------------------------------------------------

    def begin(self) -> tuple[str, float, int]:
        p0 = time.perf_counter()
        self._op += 1
        group = f"perfbench-op-{self._op}"
        self._sc.setJobGroup(group, group, False)
        mark = group, time.time(), int(self._sql.executionsCount())
        self._overhead(p0)
        return mark

    def end(self, mark: tuple[str, float, int]) -> dict[str, float]:
        """Status-store figures for the jobs of one operation."""
        p0 = time.perf_counter()
        group, t0, exec0 = mark
        t1 = time.time()
        self._sc.setJobGroup("perfbench-idle", "perfbench-idle", False)
        self._jsc.listenerBus().waitUntilEmpty()
        rec = dict.fromkeys(RECORD_KEYS, 0.0)
        spans, stages = [], set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            rec["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.length()))
        for sid in stages:
            attempts = self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            )
            for i in range(attempts.length()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                rec["spark.stages"] += 1
                rec["spark.tasks"] += st.numCompleteTasks()
                rec["spark.executor_run_s"] += st.executorRunTime() / 1e3
                rec["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                rec["spark.gc_s"] += st.jvmGcTime() / 1e3
                rec["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec["spark.driver_gap_s"] = (t1 - t0) - _covered(spans, t0, t1)
        self._python_metrics(exec0, rec)
        self._overhead(p0)
        return rec

    def _python_metrics(self, exec0: int, rec: dict[str, float]) -> None:
        n = int(self._sql.executionsCount()) - exec0
        if n <= 0:
            return
        execs = self._sql.executionsList(exec0, n)
        for i in range(execs.length()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            seen = set()
            for k in range(nodes.length()):
                metrics = nodes.apply(k).metrics()
                named = {}
                for m in range(metrics.length()):
                    met = metrics.apply(m)
                    named[met.name()] = met.accumulatorId()
                if "data sent to Python workers" not in named:
                    continue
                for name, key in PYTHON_METRICS.items():
                    acc = named.get(name)
                    if acc is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    if v.isDefined():
                        rec[key] += sql_metric_value(v.get())

    def catalyst(self, df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of ``df``'s own
        query execution. Planning is forced here (the write action plans
        a copy of the same logical plan in its own execution)."""
        p0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            out[f"catalyst.{phase}_s"] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
        self._overhead(p0)
        return out


def _covered(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``spans`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total
