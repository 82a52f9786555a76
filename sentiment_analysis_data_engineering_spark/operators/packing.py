"""Sequence packing: group documents into fixed token-budget packs —
the batch-construction step of an LLM training-data pipeline.

Extension layer (no reference counterpart). Exact global bin-packing
is inherently sequential, so the scalable form is per-partition greedy
packing (the standard practice for training-data prep): distribute
docs by hash of id, sort each partition by id, then first-fit
sequentially inside the partition. Each partition's packs get ids
prefixed by the partition, so pack ids never collide without any
cross-partition coordination.

The partition loop runs in Python, but through ``mapInPandas`` — Arrow
record batches in/out, never row-at-a-time pickling — and touches only
(id, n_tokens), two longs per doc, NOT the document text: at 100 TB of
text the packing plan moves a few GB of metadata, and the pack
assignment joins back to the corpus on the id.

Determinism: same inputs + same partition count → same packs (hash
partitioning is content-addressed, the in-partition order is sorted,
and the greedy rule has no RNG).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["pack_sequences"]

#: tokens per pack
PACK_BUDGET = 512

_PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("pack_id", T.LongType(), False),
        T.StructField("pack_seq", T.IntegerType(), False),
    ]
)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
) -> DataFrame:
    """Assign each document to a pack of ≤ ``PACK_BUDGET`` total tokens —
    (doc_id, n_tokens, pack_id, pack_seq).

    Greedy next-fit per sorted partition (``defaultParallelism`` hash
    partitions on the doc id): docs stream in id order and
    open a new pack whenever the current one would overflow. A doc
    longer than the budget gets a pack of its own (callers chunk or
    drop those upstream). ``pack_id`` = partition_index * 2^40 +
    local pack counter; ``pack_seq`` is the doc's position inside its
    pack.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    budget = PACK_BUDGET  # read on the driver; the packer's closure carries it

    def pack_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        chunks = list(batches)
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        part = int(rows["part"].iloc[0])
        base = part << 40
        pack_ids, seqs = [], []
        pack, used, seq = 0, 0, 0
        for t in rows["n_tokens"]:
            t = int(t)
            if used > 0 and used + t > budget:
                pack += 1
                used, seq = 0, 0
            used += t
            pack_ids.append(base + pack)
            seqs.append(seq)
            seq += 1
        out = pd.DataFrame(
            {
                "doc_id": rows["doc_id"].astype("int64"),
                "n_tokens": rows["n_tokens"].astype("int64"),
                "pack_id": pd.Series(pack_ids, dtype="int64"),
                "pack_seq": pd.Series(seqs, dtype="int32"),
            }
        )
        yield out

    meta = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    # spark_partition_id AFTER the repartition = the stable hash cell;
    # carried as a column so the packer can prefix its pack ids.
    parts = meta.repartition(n, F.col("doc_id")).withColumn(
        "part", F.spark_partition_id()
    )
    return parts.mapInPandas(pack_partition, schema=_PACK_SCHEMA)
