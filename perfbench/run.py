"""The engine's benchmark: one process, ``local[4]``, one workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 24 --trace 0

Workloads (README.md in this directory has the full tables):

- ``query_mix``: registered queries over a generated star schema, in
  three groups: short warehouse SQL, a driver-bound iterative graph query
  and text curation, one query of which crosses into Python workers. The
  seed shuffles the query order.
- ``daily_etl``: the reference's traffic. A backfilled warehouse, then a
  daily DAG run (T1+T2) and a weekly DAG run (T3-T8), each followed by an
  analyst read. The seed makes every input.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones, measured untraced, with timings in CPU seconds
(the wall figures are printed above the JSON); with ``--trace 1`` they are
the per-layer ones, from a traced run that also reports how long its own
probes took. Every path the run writes lies under
``.perfbench_work/`` next to this directory, and is removed at exit
except the recorded result digests.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import pyarrow.parquet as pq

import data
from checks import check_digest, compare, oracle_connection
from layers import Layers

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"

#: scale factor of the generated star schema (sf0.01 = 60k lineitems);
#: the tables are the same for every seed
SF = 0.002
DATA_SEED = 0

QUERY_GROUPS = {
    "warehouse_sql": ["star_join_revenue", "groupby_agg_pricing_summary", "nway_inner_join"],
    "iterative_index": ["kcore_parts"],
    "text_arrow": ["text_quality_score", "multimodal_decode_features", "unigram_logprob_score"],
}

#: nominal seconds of one timed pass; ``--seconds`` buys
#: round(seconds / nominal) passes (at least one), a fixed amount of
#: work per run so sample counts, and with them percentiles, repeat
PASS_SECONDS = {"query_mix": 6.0, "daily_etl": 30.0}

#: the figures the JSON reports, timings in CPU seconds: on a shared host
#: the time other tenants take from this machine's CPUs (steal) spreads
#: wall figures by a third between runs of the same code, CPU seconds,
#: which leave steal out, by about a tenth
END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "op_cpu_s.p50": "s", "op_cpu_s.tail": "s",
    "peak_rss_mb": "MB",
}
#: printed besides: the wall-clock figures a user waits for
WALL = {"setup_wall_s": "s", "pass_s": "s", "op_s.p50": "s", "op_s.tail": "s"}
STAT_TABLES = {
    "T3": "financial_ratio_table", "T4": "key_metrics_table",
    "T5": "company_esg_table", "T6": "company_group_table",
}
PER_LAYER = {
    "session.start_s": "s",
    "load_tables.calls": "count", "load_tables.reads": "count",
    "load_tables.s": "s", "load_tables.jobs": "count",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "action.s": "s", "action.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.driver_gap_s": "s",
    "python.data_sent_bytes": "bytes", "python.data_received_bytes": "bytes",
    "python.rows_received": "count", "python.boot_s": "s", "python.init_s": "s",
    "python.total_s": "s",
    "io.idempotent_append.s": "s", "io.idempotent_append.jobs": "count",
    "io.upsert_partitions.s": "s", "io.upsert_partitions.jobs": "count",
    "io.rows_written": "count", "io.files_written": "count",
    "io.files_per_partition": "files/partition", "io.bytes_per_row": "bytes/row",
    **{f"pipelines.T{i}.{k}": u for i in range(1, 9) for k, u in (("s", "s"), ("jobs", "count"))},
    "dag_daily_s": "s", "dag_weekly_s": "s", "read_after_write_s": "s",
    **{f"group.{g}.s": "s" for g in QUERY_GROUPS},
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def _process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds this machine has spent busy (user, nice, system, irq
    and softirq; not idle, I/O wait or steal) since boot. The benchmark
    assumes it has the machine to itself."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:8]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / os.sysconf("SC_CLK_TCK")


def _own_cpu_s() -> float:
    """CPU seconds this process has used so far."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return total_kb / 1024.0


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it, i.e. the 11th-largest value (the smallest when
    there are fewer than eleven samples)."""
    s = sorted(values)
    k = max(0, len(s) - 11)
    return 100.0 * (len(s) - 10) / len(s) if len(s) > 10 else 0.0, s[k]


class Failure(Exception):
    """An operation ran but its output was wrong."""


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, run_dir: Path):
        self.workload, self.seed, self.trace_run = workload, seed, trace
        self.tracing = False  # whether the current pass is traced
        self.n_passes = max(1, round(seconds / PASS_SECONDS[workload]))
        self.run_dir = run_dir
        self.attempted = self.failed = 0
        self.layers = None
        self.checking = False
        self.data_dir = str(run_dir / "data")

    # -- set-up ---------------------------------------------------------

    def start(self) -> None:
        from sentiment_analysis_data_engineering_spark.session import get_spark

        tmp = self.run_dir / "tmp"
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master="local[4]", shuffle_partitions=4,
            extra_conf={
                "spark.sql.warehouse.dir": str(self.run_dir / "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
                "spark.ui.showConsoleProgress": "false",
                # keep every job, stage and SQL execution of a run readable
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        from sentiment_analysis_data_engineering_spark import plans
        from sentiment_analysis_data_engineering_spark.operators.dedup import release_pinned
        from sentiment_analysis_data_engineering_spark.plans import registry

        for mod in pkgutil.iter_modules(plans.__path__):
            importlib.import_module(f"{plans.__name__}.{mod.name}")
        self.registry, self.release_pinned = registry, release_pinned

    def pids(self) -> list[int]:
        return [os.getpid(), self.spark.sparkContext._gateway.proc.pid]

    def stop(self) -> None:
        if self.layers is not None:
            self.layers.unwrap()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits at end of its stdin
        gateway.proc.wait(timeout=60)

    def attach_layers(self) -> None:
        from sentiment_analysis_data_engineering_spark.plans import pipelines

        self.layers = Layers(self.spark)
        prefix = "sentiment_analysis_data_engineering_spark.plans."
        for name, mod in list(sys.modules.items()):
            if name.startswith(prefix) and hasattr(mod, "load_tables"):
                self.layers.wrap(mod, "load_tables", "load_tables", _count_reads)
        for fn in ("idempotent_append", "upsert_partitions"):
            self.layers.wrap(pipelines, fn, f"io.{fn}", _count_rows)

    # -- running operations ---------------------------------------------

    def run_op(self, op, records: list[dict]) -> None:
        """Run one operation, isolated: an exception or a wrong result
        counts as a failed operation and the run goes on."""
        name, group, fn = op
        self.attempted += 1
        mark = self.layers.begin() if self.tracing else None
        rec = {"op": name, "group": group}
        try:
            t0, c0 = time.perf_counter(), cpu_s()
            result = fn(rec)
            rec["s"], rec["cpu_s"] = time.perf_counter() - t0, cpu_s() - c0
            if self.checking:
                self.checked(lambda: self.check(name, result))
        except Exception as exc:
            self.failed += 1
            kind = "WRONG" if isinstance(exc, Failure) else "ERROR"
            print(f"perfbench: {kind} {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            if not isinstance(exc, Failure):
                traceback.print_exc(file=sys.stderr)
            rec["failed"] = True
        finally:
            self.after_op()
            if mark is not None:
                rec.update(self.layers.end(mark))
        records.append(rec)

    def check(self, name: str, result) -> None:
        """Raise :class:`Failure` when ``result`` is wrong."""

    def after_op(self) -> None:
        """Release what one operation left behind."""

    def run_pass(self, ops: list, traced: bool) -> tuple[float, float, list[dict]]:
        """One pass; returns its wall and CPU seconds, without the
        result checks, and its records."""
        self.tracing = traced
        if self.layers is not None:
            self.layers.active = traced
        self.check_s = self.check_cpu_s = 0.0
        records: list[dict] = []
        t0, c0 = time.perf_counter(), cpu_s()
        for op in ops:
            self.run_op(op, records)
        wall = time.perf_counter() - t0 - self.check_s
        cpu = cpu_s() - c0 - self.check_cpu_s
        if traced:
            records.append({"op": "_pass", "group": "", **self.layers.take()})
        return wall, cpu, records

    def timed(self, rec: dict, key: str, fn):
        j0 = self.layers.jobs() if self.tracing else 0
        t0 = time.perf_counter()
        out = fn()
        rec[key] = time.perf_counter() - t0
        if self.tracing:
            rec[f"{key}_jobs"] = self.layers.jobs() - j0
        return out

    def checked(self, fn) -> None:
        t0, c0 = time.perf_counter(), cpu_s()
        try:
            fn()
        finally:
            self.check_s += time.perf_counter() - t0
            self.check_cpu_s += cpu_s() - c0


def _count_reads(totals: dict, args: tuple, out) -> None:
    """load_tables(spark, sf_dir, *names): one call, len(names) reads."""
    totals["load_tables.calls"] += 1
    totals["load_tables.reads"] += len(args) - 2


def _count_rows(totals: dict, args: tuple, out: int) -> None:
    totals["io.rows_written"] += out


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix(Bench):
    def setup(self) -> None:
        data.write_tables(self.data_dir, DATA_SEED, SF)
        self.start()
        order = [(q, g) for g, qs in QUERY_GROUPS.items() for q in qs]
        random.Random(self.seed).shuffle(order)
        self.ops = [(q, g, self.query_op(q)) for q, g in order]
        # untimed pass at the benchmark input: compiles and JITs every
        # shape, and checks every result so that no check perturbs a
        # timed pass
        self.checking = True
        wall, cpu, _ = self.run_pass(self.ops, traced=False)
        self.checking = False
        print(f"untimed pass {wall:.3f} s ({cpu:.2f} CPU s), "
              f"session start {self.session_start_s:.3f} s")

    def query_op(self, name: str):
        fn = self.registry.QUERIES[name]

        def op(rec: dict):
            df = self.timed(rec, "build_s", lambda: fn(self.spark, self.data_dir))
            if self.tracing:
                rec.update(self.layers.catalyst(df))
            self.timed(rec, "action_s", lambda: df.write.format("noop").mode("overwrite").save())
            return df

        return op

    def after_op(self) -> None:
        # dedup/LSH operators pin frames for reuse within one query
        self.release_pinned()

    def check(self, name: str, df) -> None:
        got = df.toPandas()
        sql = self.registry.ORACLES.get(name)
        if sql is None:
            path = WORK / "digests" / f"{name}-seed{DATA_SEED}-sf{SF}.sha256"
            problem = check_digest(got, str(path))
        else:
            if not hasattr(self, "duck"):
                self.duck = oracle_connection(self.data_dir)
            problem = compare(got, self.duck.execute(sql).fetchdf())
        if problem:
            raise Failure(problem)


# ---------------------------------------------------------------------------
# daily_etl
# ---------------------------------------------------------------------------


class DailyEtl(Bench):
    TABLES = {
        "fact": "fact_table", "macro_d": "macro_data_daily",
        "macro_m": "macro_data_monthly", "macro_q": "macro_data_quarterly",
        **STAT_TABLES,
    }

    def setup(self) -> None:
        """Backfill the warehouse, then snapshot it; every pass starts
        from the snapshot. There is no untimed pass: each DAG run in the
        reference is its own Spark application, so its users pay
        first-run costs on every run, and the timed pass measures them."""
        self.week = data.etl_week(self.seed)
        self.wh = self.run_dir / "warehouse"
        self.snapshot = self.run_dir / "backfill"
        # the key-probed tables hold only what the anti joins look up
        for name, table in self.week.backfill.items():
            pq.write_to_dataset(table, str(self.wh / name), partition_cols=["year", "month"])
        self.start()
        from sentiment_analysis_data_engineering_spark.plans import pipelines

        self.pl = pipelines
        # the stats tables are compared row by row on upsert: load them
        # through the pipeline tasks themselves
        as_of, stats = self.week.stats
        records: list[dict] = []
        for task in STAT_TABLES:
            fn = getattr(pipelines, _STAT_TASK[task])
            self.run_op((f"backfill.{task}", "backfill", self.task(
                task, lambda f=fn, t=task: f(self.spark, stats, as_of, self.path(t)),
                len(stats))), records)
        shutil.copytree(self.wh, self.snapshot)
        self.ops = self.week_ops()

    def path(self, key: str) -> str:
        return str(self.wh / self.TABLES[key])

    def history(self, ohlcv: dict[str, list[tuple]]):
        schema = ("date string, open double, high double, low double, close double, "
                  "volume double, dividends double, stock_splits double")
        return {t: self.spark.createDataFrame(rows, schema) for t, rows in ohlcv.items()}

    def task(self, task: str, fn, expect: int | None):
        def op(rec: dict) -> None:
            n = fn()
            rec["task"] = task
            if expect is not None and n != expect:
                raise Failure(f"{task} wrote {n} rows, expected {expect}")

        return op

    def week_ops(self) -> list:
        w, pl = self.week, self.pl
        ops = []
        for i, day in enumerate(w.days):
            ops.append((f"T1.{day.as_of}", "daily", self.task(
                "T1", lambda d=day: pl.load_macro_daily(
                    self.spark, d.gold_json, d.oil_json, d.as_of, self.path("macro_d")),
                day.expect_t1)))
            ops.append((f"T2.{day.as_of}", "daily", self.task(
                "T2", lambda d=day: pl.load_stock_daily(
                    self.spark, self.history(d.ohlcv), self.path("fact")),
                day.expect_t2)))
            ops.append((f"read.{day.as_of}", "read", self.read_daily(i)))
        wk = w.weekly
        for task in STAT_TABLES:
            fn = getattr(pl, _STAT_TASK[task])
            ops.append((task, "weekly", self.task(
                task, lambda f=fn, t=task: f(self.spark, wk.stats, wk.as_of, self.path(t)),
                wk.expect[task])))
        ops.append(("T7", "weekly", self.task(
            "T7", lambda: pl.load_macro_monthly(self.spark, wk.monthly, self.path("macro_m")),
            wk.expect["T7"])))
        ops.append(("T8", "weekly", self.task(
            "T8", lambda: pl.load_macro_quarterly(self.spark, wk.quarterly, self.path("macro_q")),
            wk.expect["T8"])))
        ops.append(("read.weekly", "read", self.read_weekly()))
        return ops

    def views(self, *keys: str) -> None:
        for k in keys:
            self.spark.read.parquet(self.path(k)).createOrReplaceTempView(k)

    def read_daily(self, i: int):
        n_days = self.week.history_days + i + 1

        def op(rec: dict) -> None:
            def read():
                self.views("fact", "macro_d")
                return self.spark.sql("""
                    SELECT f.ticker, count(*) AS n_days, round(avg(f.close), 4) AS avg_close,
                           round(max(m.gold_price), 2) AS max_gold
                    FROM fact f LEFT JOIN macro_d m
                      ON f.year = m.year AND f.month = m.month AND f.day = m.day
                    GROUP BY f.ticker""").collect()

            rows = read()
            bad = [r for r in rows if r.n_days != n_days]
            if len(rows) != len(self.week.tickers) or bad:
                raise Failure(f"daily read: {len(rows)} tickers, {bad[:2]} != {n_days} days")

        return op

    def read_weekly(self):
        wk = self.week.weekly
        year, month = int(wk.as_of[:4]), int(wk.as_of[5:7])

        def op(rec: dict) -> None:
            def read():
                self.views("fact", "T3", "T5", "T6", "macro_m")
                return self.spark.sql(f"""
                    SELECT g.company, g.value_MARKET_CAP, r.value_PE_RATIO,
                           e.value_ENVIRONMENTAL_RATING, q.n_days, q.last_close,
                           (SELECT count(*) FROM macro_m) AS n_months
                    FROM T6 g
                    JOIN T3 r ON r.company = g.company AND r.year = g.year AND r.month = g.month
                    JOIN T5 e ON e.company = g.company AND e.year = g.year AND e.month = g.month
                    JOIN (SELECT ticker, count(*) AS n_days,
                                 max_by(close, year * 10000 + month * 100 + day) AS last_close
                          FROM fact GROUP BY ticker) q ON q.ticker = g.company
                    WHERE g.year = {year} AND g.month = {month}""").collect()

            rows = read()
            if len(rows) != len(self.week.tickers):
                raise Failure(f"weekly read: {len(rows)} companies")

        return op

    def run_pass(self, ops: list, traced: bool):
        shutil.rmtree(self.wh)
        shutil.copytree(self.snapshot, self.wh)
        before = _files(self.wh)
        wall, cpu, records = super().run_pass(ops, traced)
        self.check_partitions(before)
        if traced:
            records[-1].update(_disk(self.wh, before))
        return wall, cpu, records

    def check_partitions(self, before: dict[str, set]) -> None:
        """The weekly upsert rewrites exactly the changed company's
        (year, month) partition of exactly one stats table."""
        wk = self.week.weekly
        after = _files(self.wh)
        want = f"{STAT_TABLES[wk.changed_task]}/year={int(wk.as_of[:4])}/month={int(wk.as_of[5:7])}"
        changed = {d for d in set(before) | set(after)
                   if d.split("/")[0] in STAT_TABLES.values() and before.get(d) != after.get(d)}
        self.attempted += 1
        if changed != {want}:
            self.failed += 1
            print(f"perfbench: WRONG weekly upsert rewrote {sorted(changed)}, expected {want}",
                  file=sys.stderr)


_STAT_TASK = {
    "T3": "load_financial_ratio", "T4": "load_key_metrics",
    "T5": "load_company_esg", "T6": "load_company_group",
}


def _files(root: Path) -> dict[str, set]:
    """Partition directory (relative) -> its data files (name, mtime)."""
    out: dict[str, set] = {}
    for dirpath, _, names in os.walk(root):
        files = {(n, os.stat(os.path.join(dirpath, n)).st_mtime_ns)
                 for n in names if n.endswith(".parquet")}
        if files:
            out[os.path.relpath(dirpath, root)] = files
    return out


def _disk(root: Path, before: dict[str, set]) -> dict[str, float]:
    """Write-side space figures after a pass."""
    after = _files(root)
    n_files = sum(len(f) for f in after.values())
    n_bytes = sum(os.path.getsize(os.path.join(root, d, n))
                  for d, files in after.items() for n, _ in files)
    n_rows = sum(pq.read_metadata(os.path.join(root, d, n)).num_rows
                 for d, files in after.items() for n, _ in files)
    return {
        "io.files_written": float(sum(len(f - before.get(d, set())) for d, f in after.items())),
        "io.files_per_partition": n_files / len(after),
        "io.bytes_per_row": n_bytes / n_rows,
    }


# ---------------------------------------------------------------------------
# metrics and the command line
# ---------------------------------------------------------------------------

WORKLOADS = {"query_mix": QueryMix, "daily_etl": DailyEtl}


def _dag_figures(recs: list[dict]) -> dict[str, float]:
    """Daily DAG run (T1+T2 of one day), weekly DAG run (T3-T8) and
    analyst-read latencies of one daily_etl pass."""
    days: dict[str, float] = {}
    weekly, reads = 0.0, []
    for r in recs:
        if "s" not in r:
            continue
        if r["group"] == "daily":
            day = r["op"].split(".", 1)[1]
            days[day] = days.get(day, 0.0) + r["s"]
        elif r["group"] == "weekly":
            weekly += r["s"]
        elif r["group"] == "read":
            reads.append(r["s"])
    if not days:
        return {}
    return {
        "dag_daily_s": statistics.median(days.values()),
        "dag_weekly_s": weekly,
        "read_after_write_s": statistics.median(reads),
    }


def layer_metrics(recs: list[dict], wall: float) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for r in recs:
        for k, v in r.items():
            if k in m and isinstance(v, (int, float)):
                m[k] += v
        if "build_s" in r:
            m["plans.build_s"] += r["build_s"]
            m["plans.build_jobs"] += r["build_s_jobs"]
        if "action_s" in r:
            m["action.s"] += r["action_s"]
            m["action.jobs"] += r["action_s_jobs"]
        if r["group"] in QUERY_GROUPS and "s" in r:
            m[f"group.{r['group']}.s"] += r["s"]
        if "task" in r:
            m[f"pipelines.{r['task']}.s"] += r["s"]
            m[f"pipelines.{r['task']}.jobs"] += r["spark.jobs"]
    m.update(_dag_figures(recs))
    m["trace.pass_s"] = wall
    return m


def _median_and_tail(name: str, values: list[float]) -> dict[str, float]:
    pct, tail_value = tail(values)
    print(f"{name}.tail is p{pct:.1f} of {len(values)} timed ops")
    return {f"{name}.p50": statistics.median(values), f"{name}.tail": tail_value}


def measure(bench: Bench) -> dict[str, float]:
    """Timed passes after set-up.

    A traced run traces the same passes instead, so they run as warm as
    the untraced ones (as cold, on ``daily_etl``)."""
    if bench.trace_run:
        bench.attach_layers()
        per_pass = [layer_metrics(r, w) for w, _, r in
                    (bench.run_pass(bench.ops, traced=True) for _ in range(bench.n_passes))]
        out = {k: statistics.median(p[k] for p in per_pass) for k in PER_LAYER}
        out["session.start_s"] = bench.session_start_s
        return out
    walls, cpus, recs = [], [], []
    for _ in range(bench.n_passes):
        wall, cpu, r = bench.run_pass(bench.ops, traced=False)
        walls.append(wall)
        cpus.append(cpu)
        recs.extend(r)
    print("timed passes " + " ".join(f"{w:.3f} s ({c:.2f} CPU s)" for w, c in zip(walls, cpus)))
    done = [r for r in recs if "s" in r]
    out = {
        "pass_cpu_s": statistics.median(cpus),
        **_median_and_tail("op_cpu_s", [r["cpu_s"] for r in done]),
        "pass_s": statistics.median(walls),
        **_median_and_tail("op_s", [r["s"] for r in done]),
        "peak_rss_mb": _peak_rss_mb(bench.pids()),
        **_dag_figures(recs),
    }
    by_op: dict[str, list[tuple[float, float]]] = {}
    for r in done:
        by_op.setdefault(f"{r['group']:15s} {r['op']}", []).append((r["s"], r["cpu_s"]))
    for k in sorted(by_op):
        wall, cpu = (statistics.median(x) for x in zip(*by_op[k]))
        print(f"op {k} median {wall:.4f} s, {cpu:.3f} CPU s")
    return out


def prepare(run_dir: Path) -> None:
    """Environment for a run whose scratch files all live in ``run_dir``.
    Python workers import the engine from any launch directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    t_proc, cpu0 = _process_start(), cpu_s() - _own_cpu_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import sentiment_analysis_data_engineering_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}"
    prepare(run_dir)

    bench = WORKLOADS[args.workload](args.workload, args.seed, args.seconds,
                                     bool(args.trace), run_dir)
    try:
        bench.setup()
        metrics = {"setup_s": cpu_s() - cpu0, "setup_wall_s": time.time() - t_proc}
        metrics.update(measure(bench))
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    all_units = {**END_TO_END, **WALL, **PER_LAYER}
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {all_units[k]}")
    units = PER_LAYER if args.trace else END_TO_END
    out = {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}
    print(f"fail_ratio = {bench.failed}/{bench.attempted} = "
          f"{bench.failed / bench.attempted:.4f}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
