"""The declared-schema read path: fixture tables and persisted IVF-PQ
index artifacts are read with declared schemas, so no read launches a
schema-inference job, and a file that drifts from its declaration
fails loudly instead of being misread."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import similarity as sim
from sentiment_analysis_data_engineering_spark.operators.observe import spark_job_count
from sentiment_analysis_data_engineering_spark.plans.registry import (
    fixture_rows,
    load_tables,
)
from sentiment_analysis_data_engineering_spark.schemas import FIXTURE_SCHEMAS

from conftest import SF001, SF0001

SFS = [SF0001, SF001, os.path.join(os.path.dirname(SF001), "sf0.1")]


def _types(schema) -> list[tuple[str, str]]:
    """Names and types, nullability ignored."""
    return [(f.name, f.dataType.simpleString()) for f in schema]


def _jobs(spark, fn):
    before = spark_job_count(spark)
    out = fn()
    return out, spark_job_count(spark) - before


@pytest.mark.parametrize("sf_dir", SFS)
def test_declared_fixture_schemas_match_inferred(spark, sf_dir):
    for name, declared in FIXTURE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _types(declared) == _types(inferred), name
    assert fixture_rows(sf_dir, "embeddings") == (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    )


def test_load_tables_submits_no_jobs(spark, sf_dir):
    dfs, n_jobs = _jobs(spark, lambda: load_tables(spark, sf_dir, *FIXTURE_SCHEMAS))
    assert n_jobs == 0
    assert len(dfs) == len(FIXTURE_SCHEMAS)


def test_drifted_fixture_column_fails_on_first_action(spark, sf_dir, tmp_path):
    t = pq.read_table(f"{sf_dir}/customer.parquet")
    i = t.schema.get_field_index("c_custkey")
    t = t.set_column(i, "c_custkey", t["c_custkey"].cast(pa.string()))
    pq.write_table(t, str(tmp_path / "customer.parquet"))
    (df,) = load_tables(spark, str(tmp_path), "customer")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.collect()


@pytest.mark.parametrize("encoding", ["nanos", "spark_int96"])
def test_events_encodings_read_like_the_fixture(spark, sf_dir, tmp_path, encoding):
    """An older TIMESTAMP(NANOS) file and a Spark-written directory
    (INT96 timestamps) read, without a job, as the fixture does."""
    (micros,) = load_tables(spark, sf_dir, "events")
    out = str(tmp_path / "events.parquet")
    if encoding == "nanos":
        t = pq.read_table(f"{sf_dir}/events.parquet")
        i = t.schema.get_field_index("ts")
        pq.write_table(t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns"))), out)
    else:
        micros.write.parquet(out)
    (got,), n_jobs = _jobs(spark, lambda: load_tables(spark, str(tmp_path), "events"))
    assert n_jobs == 0
    assert got.dtypes == micros.dtypes
    assert got.orderBy("event_id").collect() == micros.orderBy("event_id").collect()


def test_index_artifacts_read_without_inference(spark, sf_dir, tmp_path):
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb.filter(F.col("vec_id") % 5 != 0), path, n_cells=8)
    model = f"{path}/{sim._snapshot(spark, path)[1]['model']}"
    for art, declared in (
        ("centroids", sim._CENTROIDS_SCHEMA),
        ("codebooks", sim._CODEBOOKS_SCHEMA),
    ):
        inferred = spark.read.parquet(f"{model}/{art}").schema
        assert _types(declared) == _types(inferred), art
    codes, n_jobs = _jobs(spark, lambda: sim.ivfpq_codes(spark, path))
    assert n_jobs == 0
    # inference parses the cell directories as int; the declaration
    # reads them as the bigint the encode wrote
    inferred = spark.read.parquet(f"{model}/codes")
    assert _types(inferred.schema) == [
        (n, "int" if n == "cell" else t) for n, t in _types(sim.CODES_SCHEMA)
    ]
    key = ["neighbor_id"]
    assert codes.orderBy(key).collect() == (
        inferred.withColumn("cell", F.col("cell").cast("long")).orderBy(key).collect()
    )
    # the accessor stays job-free once a merge and a compaction have
    # spread the codes over several entries
    sim.ivfpq_merge_index(spark, path, emb.filter(F.col("vec_id") % 5 == 0))
    assert _jobs(spark, lambda: sim.ivfpq_codes(spark, path))[1] == 0
    sim.ivfpq_compact_index(spark, path)
    codes, n_jobs = _jobs(spark, lambda: sim.ivfpq_codes(spark, path))
    assert n_jobs == 0
    assert codes.count() == emb.count()
    sim.evict_model_cache(path)


def test_index_refuses_ids_it_cannot_store(spark, sf_dir, tmp_path):
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    named = emb.withColumn("vec_id", F.concat(F.lit("v"), F.col("vec_id")))
    with pytest.raises(TypeError, match="bigint ids"):
        sim.ivfpq_write_index(named, str(tmp_path / "idx"))
