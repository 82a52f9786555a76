"""REST-shaped JSON ingestion (SURVEY.md §2.1 S3/S4, §2.2 P7).

The reference pulls JSON over HTTP and picks at it row-wise in Python
(``daily_dag.py:48-60``, ``weekly_dag.py:367-391``). The engine's
equivalent takes the payload *strings* (transport is out of engine
scope) and turns them into typed DataFrames with ``from_json`` +
``explode`` — one lazy plan, schema declared, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .io import local_frame

__all__ = ["scalar_json_lookup"]


def scalar_json_lookup(
    spark: SparkSession, payloads: dict[str, tuple[str, str]]
) -> DataFrame:
    """S3 — scalar JSON-path extraction from single-object payloads.

    ``payloads``: name -> (json_string, json_path). Returns one row per
    payload: (name, value double). The reference's
    ``json['data']['price']`` / ``json['rates']['SGD']``
    (``daily_dag.py:59-60``) becomes ``get_json_object``.
    """
    rows = [(name, payload, path) for name, (payload, path) in payloads.items()]
    df = local_frame(spark, rows, "name string, payload string, path string")
    # get_json_object needs a foldable path → one branch per DISTINCT
    # path (iterating payload entries would select every row sharing a
    # path once per sharer, duplicating output rows).
    out = None
    for path in dict.fromkeys(p for _, p in payloads.values()):
        part = df.filter(F.col("path") == path).select(
            "name",
            F.get_json_object(F.col("payload"), path).try_cast("double").alias("value"),
        )
        out = part if out is None else out.unionByName(part)
    return out


#: Alpha Vantage-shaped payload schema (``weekly_dag.py:367-391``): the
#: indicator name plus its (date, value) series. ``plans.pipelines``
#: unnests every payload of a T7/T8 run with it in one frame.
TIMESERIES_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField(
            "data",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("date", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)
