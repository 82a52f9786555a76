"""Laws of the benchmark itself: seeded inputs, the traced record of one
small and one iterative query, and the metric helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil

import pytest

import data
import run
from layers import RECORD_KEYS, sql_metric_value


def test_tables_are_a_function_of_the_seed():
    a, b, c = data.tables(1, 0.001), data.tables(1, 0.001), data.tables(2, 0.001)
    assert set(a) == set(data.TABLES)
    assert all(a[t].equals(b[t]) for t in data.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_etl_week_expected_counts():
    for seed in range(8):
        w = data.etl_week(seed)
        n = len(w.tickers)
        assert all(d.expect_t1 == 1 and d.expect_t2 == n for d in w.days)
        # the re-delivered overlap: only the last day of each window is new
        assert all(len(rows) == 4 for d in w.days for rows in d.ohlcv.values())
        # exactly one stats table sees the changed company; the rest
        # re-upsert identical rows
        stats = {t: w.weekly.expect[t] for t in data.STAT_FIELDS}
        assert sorted(stats.values()) == [0, 0, 0, n]
        assert w.weekly.expect["T7"] >= 1
        assert w.backfill["fact_table"].num_rows == n * w.history_days


def test_tail_is_the_eleventh_largest():
    assert run.tail(list(range(100))) == (90.0, 89)
    assert run.tail([3.0, 1.0, 2.0]) == (0.0, 1.0)


def test_sql_metric_values():
    assert sql_metric_value("total (min, med, max (stageId: taskId))\n8.2 KiB (4.1 KiB)") == 8.2 * 1024
    assert sql_metric_value("total (min, med, max (stageId: taskId))\n1.5 s (734 ms)") == 1.5
    assert sql_metric_value("734 ms") == pytest.approx(0.734)
    assert sql_metric_value("1,234") == 1234


@pytest.fixture(scope="module")
def bench():
    run_dir = run.WORK / f"test-{os.getpid()}"
    run.prepare(run_dir)
    b = run.QueryMix("query_mix", seed=7, seconds=1, trace=True, run_dir=run_dir)
    data.write_tables(b.data_dir, 7, 0.001)
    b.start()
    b.attach_layers()
    b.tracing = True
    yield b
    b.stop()
    shutil.rmtree(run_dir, ignore_errors=True)


def traced(bench, name: str) -> tuple[dict, dict]:
    recs: list[dict] = []
    bench.run_op((name, "test", bench.query_op(name)), recs)
    return recs[0], bench.layers.take()


QUERY_KEYS = {"op", "group", "s", "cpu_s", "build_s", "build_s_jobs", "action_s", "action_s_jobs",
              "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s"}


def test_traced_record_small_query(bench):
    rec, totals = traced(bench, "star_join_revenue")
    assert set(rec) == QUERY_KEYS | set(RECORD_KEYS)
    assert not rec.get("failed")
    assert rec["spark.jobs"] == rec["build_s_jobs"] + rec["action_s_jobs"]
    assert rec["action_s_jobs"] >= 1 and rec["spark.tasks"] >= rec["spark.stages"] >= 1
    assert rec["catalyst.optimization_s"] > 0 and rec["catalyst.planning_s"] > 0
    # no Python UDF, no Arrow crossing
    assert all(rec[k] == 0 for k in RECORD_KEYS if k.startswith("python."))
    # one schema-inference job per parquet table read
    assert totals["load_tables.reads"] >= 4
    assert totals["load_tables.jobs"] == totals["load_tables.reads"]


def test_traced_record_iterative_query(bench):
    rec, totals = traced(bench, "kcore_parts")
    assert set(rec) == QUERY_KEYS | set(RECORD_KEYS)
    assert not rec.get("failed")
    # driver-bound: the peeling rounds run inside the query function,
    # the final action is almost free
    assert rec["build_s_jobs"] >= 10 >= rec["action_s_jobs"]
    assert rec["build_s"] > rec["action_s"]
    assert rec["spark.jobs"] == rec["build_s_jobs"] + rec["action_s_jobs"]
    assert rec["spark.driver_gap_s"] >= 0
    assert totals["load_tables.calls"] >= 1


def test_traced_record_arrow_query(bench):
    rec, _ = traced(bench, "multimodal_decode_features")
    assert rec["python.data_sent_bytes"] > 0 and rec["python.rows_received"] > 0
