from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from sentiment_analysis_data_engineering_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
TMP = ROOT / ".tmp" / "tests"


@pytest.fixture(scope="session")
def spark():
    # local[8], not local[$SPARK_GRAFT_CPUS]: the suite's jobs are tiny
    # (9-word BPE tables, 500-doc fixtures) and driver-job-bound — the
    # r14 driver scaling data showed 8 cores BEATING 32 on exactly this
    # profile (fixed per-task scheduling overhead, no data to spread).
    # At local[32] every createDataFrame stage schedules 32 tasks for a
    # handful of rows; 8 slots cuts that 4x across ~600 tests and keeps
    # the suite inside the driver's VERIFY budget (r14 verdict item 3).
    # Correctness is master-independent; bench.py still honors
    # $SPARK_GRAFT_CPUS per the driver contract.
    s = get_spark("tests", master="local[8]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmp_table_dir():
    TMP.mkdir(parents=True, exist_ok=True)
    yield TMP
    shutil.rmtree(TMP, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001
