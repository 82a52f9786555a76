"""Custom Python DataSource (Spark 4 API): newline-delimited JSON
payload directories as a first-class ``spark.read.format(...)`` source.

This is the in-engine home for the reference's HTTP connector family
(S3/S4: ``requests.get(...).json()`` inside task bodies,
daily_dag.py:46-85, weekly_dag.py:366-432). The sandbox has no
network, and SURVEY §2.1 documents live HTTP as out-of-engine — but
the Spark-4 Python DataSource API is exactly where such a connector
belongs when it IS built: each input partition is one endpoint
payload, fetched and parsed inside the executor, so N endpoints fan
out across the cluster instead of serializing through the driver the
way the reference's single-task ``requests`` loop does. Here the
"fetch" is a local file read (one partition per ``*.json``/``*.jsonl``
file, deterministic sorted order); swapping it for an HTTP GET changes
one function.

Usage::

    spark.dataSource.register(JsonPayloadDataSource)
    df = (spark.read.format("json_payload")
          .schema("event_id long, value double")
          .option("path", "/data/payloads").load())

Scale notes: a connector is IO-bound glue, not a compute kernel — rows
are yielded from plain Python by design (the Arrow path matters for
compute UDFs, not for a reader whose cost is the network/disk fetch).
Column values are drawn from each JSON object by schema field name;
missing keys become NULL, extra keys are ignored — the tolerant-reader
contract every API client ends up needing. Values are coerced per the
declared type, strictly: long columns take JSON ints and integral
floats (the ``1`` vs ``1.0`` drift) but REJECT fractional values
rather than truncate them; boolean columns take only JSON true/false
(``bool("false")`` is truthy, so string payloads must not slip
through); doubles/strings use the plain casts. A type violation is a
hard error — a connector that silently mangles values "succeeds" with
wrong data, the worst ETL failure mode.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

__all__ = ["JsonPayloadDataSource"]

def _to_long(v):
    # Strict integer coercion: JSON ints pass through; a float is
    # accepted only when integral (an API emitting 1.0 for 1), because
    # silently truncating 1.9 into a declared long column is data loss
    # dressed up as tolerance. Strings are rejected for the same reason.
    if isinstance(v, bool):  # bool is an int subclass — reject explicitly
        raise ValueError(f"boolean {v!r} in a long-typed column")
    if isinstance(v, int):
        return v
    if isinstance(v, float) and v.is_integer():
        return int(v)
    raise ValueError(f"non-integral value {v!r} in a long-typed column")


def _to_bool(v):
    # Only JSON true/false count: bool("false") is truthy, so string
    # payloads must not slip through the generic bool() cast.
    if isinstance(v, bool):
        return v
    raise ValueError(f"non-boolean value {v!r} in a boolean-typed column")


_COERCE = {
    "long": _to_long,
    "bigint": _to_long,
    "int": _to_long,
    "integer": _to_long,
    "double": float,
    "float": float,
    "string": str,
    "boolean": _to_bool,
}


class JsonPayloadDataSource(DataSource):
    """``format("json_payload")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "json_payload"

    def schema(self) -> str:
        # A connector must not guess: require an explicit reader schema
        # (Spark calls this only when .schema(...) was not supplied).
        raise ValueError(
            "json_payload requires an explicit .schema(...) — a payload "
            "connector must not infer types from whichever payload "
            "arrives first"
        )

    def reader(self, schema) -> "JsonPayloadReader":
        return JsonPayloadReader(schema, self.options)


def _parse_fields(schema) -> list[tuple[str, type]]:
    fields = [
        (f.name, _COERCE.get(f.dataType.simpleString())) for f in schema.fields
    ]
    for name, fn in fields:
        if fn is None:
            raise ValueError(
                f"json_payload supports long/double/string/boolean "
                f"columns; field {name!r} is not one of those"
            )
    return fields


def _payload_path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("json_payload requires .option('path', <dir>)")
    return path


def _list_payloads(path: str) -> list[str]:
    return sorted(
        glob.glob(os.path.join(path, "*.json"))
        + glob.glob(os.path.join(path, "*.jsonl"))
    )


def _read_payload(path: str, fields: list[tuple[str, type]]):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            obj = json.loads(line)
            yield tuple(
                None if obj.get(name) is None else fn(obj[name])
                for name, fn in fields
            )


class JsonPayloadReader(DataSourceReader):
    def __init__(self, schema, options) -> None:
        self._path = _payload_path(options)
        self._fields = _parse_fields(schema)

    def partitions(self) -> list[InputPartition]:
        files = _list_payloads(self._path)
        # zero payload files -> zero partitions is an ERROR here: a
        # connector silently reading nothing is how an ETL run "succeeds"
        # with an empty table (the reference's probe-then-append bug
        # class, SURVEY §2.11)
        if not files:
            raise FileNotFoundError(
                f"json_payload: no *.json / *.jsonl files under {self._path}"
            )
        return [InputPartition(f) for f in files]

    def read(self, partition: InputPartition):
        yield from _read_payload(partition.value, self._fields)
