from .io import append, idempotent_append, replace_partition, scan, upsert_partitions
from .json_source import scalar_json_lookup

__all__ = [
    "scan", "append", "idempotent_append", "replace_partition",
    "upsert_partitions", "scalar_json_lookup",
]
