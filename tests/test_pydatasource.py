"""sources/pydatasource.py: the Spark 4 Python DataSource connector."""

from __future__ import annotations

import json

import pytest

from sentiment_analysis_data_engineering_spark.sources.pydatasource import (
    JsonPayloadDataSource,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(JsonPayloadDataSource)
    return spark


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_reads_files_as_partitions(registered, tmp_path):
    _write(tmp_path / "a.jsonl", [{"k": 1, "v": 1.5}, {"k": 2, "v": 2.0}])
    _write(tmp_path / "b.json", [{"k": 3, "v": 0.25}])
    df = (
        registered.read.format("json_payload")
        .schema("k long, v double")
        .option("path", str(tmp_path))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    assert sorted((r.k, r.v) for r in df.collect()) == [
        (1, 1.5), (2, 2.0), (3, 0.25),
    ]


def test_tolerant_reader_and_coercion(registered, tmp_path):
    # missing key -> NULL; extra key ignored; JSON int coerced to the
    # declared double; explicit null preserved; blank lines skipped
    _write(
        tmp_path / "a.jsonl",
        [
            {"k": 1, "v": 2, "junk": "x"},
            {"k": 2},
            {"k": 3, "v": None},
        ],
    )
    (tmp_path / "a.jsonl").write_text(
        (tmp_path / "a.jsonl").read_text() + "\n\n"
    )
    df = (
        registered.read.format("json_payload")
        .schema("k long, v double")
        .option("path", str(tmp_path))
        .load()
    )
    got = {r.k: r.v for r in df.collect()}
    assert got == {1: 2.0, 2: None, 3: None}
    assert dict(df.dtypes)["v"] == "double"


def test_requires_explicit_schema(registered, tmp_path):
    _write(tmp_path / "a.jsonl", [{"k": 1}])
    with pytest.raises(Exception, match="explicit .schema"):
        (
            registered.read.format("json_payload")
            .option("path", str(tmp_path))
            .load()
        )


def test_empty_dir_is_loud(registered, tmp_path):
    df = (
        registered.read.format("json_payload")
        .schema("k long")
        .option("path", str(tmp_path / "nothing"))
        .load()
    )
    with pytest.raises(Exception, match="no .*json"):
        df.collect()


def test_unsupported_column_type_rejected(registered, tmp_path):
    _write(tmp_path / "a.jsonl", [{"k": 1}])
    with pytest.raises(Exception, match="long/double/string/boolean"):
        (
            registered.read.format("json_payload")
            .schema("k array<long>")
            .option("path", str(tmp_path))
            .load()
        ).collect()
