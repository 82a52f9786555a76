"""Generate a synthetic sf1.0-scale dataset for ITERATIVE-family
scaling measurement (SCALING.md's second decade: sf0.1 -> sf1.0).

The driver ships testdata only up to sf0.1; at that size most iterative
queries are fixed-overhead dominated (SCALING.md ratios well under 10),
which leaves the O(m^1.5) triangle bound, the SemDeDup per-cluster
quadratic guard and the connected-components convergence behavior
untested by measurement. This tool builds a 10x corpus for exactly the
three tables those families read, with perturbations chosen so the
WORKLOAD stays realistic (not just the row count):

- ``lineitem`` (graph family): 10 copies with per-copy orderkey AND
  partkey offsets — 10 disjoint co-purchase subgraphs, so node count,
  edge count and shuffle volume all scale 10x while degree structure is
  preserved. (Replicating only orders would multiply edge MULTIPLICITY
  on a fixed node set — a different, denser graph, not a bigger one.)
- ``documents`` (LSH dedup + BPE): 10 copies with doc_id offsets; every
  copy>0 gets a synthetic marker token spliced in every 4th word.
  Verbatim copies would make 90% of the corpus exact/near duplicates
  and blow up LSH bucket pair counts quadratically — a DIFFERENT
  workload from "10x more distinct documents". The splice breaks most
  shingles (word-3-gram Jaccard vs the original ~0.25, far below the
  dedup thresholds) while keeping Zipfian token structure.
- ``embeddings`` (SemDeDup, cosine near-dup): 10 copies with vec_id
  offsets; copy>0 vectors are component-ROTATED by a per-copy stride
  plus deterministic per-(copy, component) sign flips — norm and
  coordinate distribution preserved, cosine to the source vector
  destroyed, so near-dup density stays realistic instead of every
  vector gaining 9 twins.

Everything is deterministic (no RNG) so repeated generations are
byte-stable. Output: .scaling_sf1/{lineitem,documents,
embeddings}.parquet (~120 MB total; gitignored — an artifact, not
source) at the repo root.

    python tools/gen_scaling_sf1.py
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaling_sf1")
N_COPIES = 10

# Offsets comfortably above the sf0.1 max keys (149_999 / 19_999 /
# 4_999 / 1_999) so copies never collide.
ORDER_OFF = 1_000_000
PART_OFF = 100_000
DOC_OFF = 100_000
VEC_OFF = 100_000


def gen_lineitem(con: duckdb.DuckDBPyConnection) -> None:
    selects = " UNION ALL ".join(
        f"""SELECT l_orderkey + {i * ORDER_OFF} AS l_orderkey,
                   l_partkey + {i * PART_OFF} AS l_partkey,
                   l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM src_li"""
        for i in range(N_COPIES)
    )
    con.execute(f"CREATE VIEW src_li AS SELECT * FROM '{SRC}/lineitem.parquet'")
    con.execute(
        f"COPY ({selects}) TO '{OUT}/lineitem.parquet' (FORMAT PARQUET)"
    )


def _splice_markers(text: str, copy: int) -> str:
    """Insert a copy-specific marker token after every 4th word —
    breaks ~3/4 of word-3-gram shingles vs the original."""
    words = text.split(" ")
    out: list[str] = []
    for j, w in enumerate(words):
        out.append(w)
        if j % 4 == 3:
            out.append(f"zq{copy}m{j & 15}")
    return " ".join(out)


def gen_documents(con: duckdb.DuckDBPyConnection) -> None:
    src = con.execute(
        f"SELECT doc_id, text, lang, source FROM '{SRC}/documents.parquet' "
        "ORDER BY doc_id"
    ).fetchall()
    ids, texts, langs, sources, n_chars = [], [], [], [], []
    for i in range(N_COPIES):
        for doc_id, text, lang, source in src:
            t = text if i == 0 else _splice_markers(text, i)
            ids.append(doc_id + i * DOC_OFF)
            texts.append(t)
            langs.append(lang)
            sources.append(source)
            n_chars.append(len(t))
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )
    pq.write_table(table, f"{OUT}/documents.parquet")


def gen_embeddings(con: duckdb.DuckDBPyConnection) -> None:
    rows = con.execute(
        f"SELECT vec_id, embedding, label FROM '{SRC}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    base_ids = np.array([r[0] for r in rows], dtype=np.int64)
    base = np.array([r[1] for r in rows], dtype=np.float32)
    labels = np.array([r[2] for r in rows], dtype=np.int32)
    dim = base.shape[1]
    ids, vecs, labs = [], [], []
    for i in range(N_COPIES):
        if i == 0:
            v = base
        else:
            # rotate components by a copy stride coprime-ish to dim,
            # then flip signs by a deterministic per-(copy, j) pattern:
            # preserves norms/coordinate stats, destroys cosine to the
            # source copy (rotation decorrelates, sign flips kill the
            # residual), so the near-dup rate stays corpus-realistic.
            v = np.roll(base, shift=(i * 7) % dim, axis=1)
            signs = np.where(
                ((np.arange(dim) * 2654435761 + i * 40503) >> 3) & 1,
                np.float32(-1.0),
                np.float32(1.0),
            )
            v = v * signs[None, :]
        ids.append(base_ids + i * VEC_OFF)
        vecs.append(v)
        labs.append(labels)
    all_v = np.concatenate(vecs)
    table = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(all_v.reshape(-1), pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(labs)),
        }
    )
    pq.write_table(table, f"{OUT}/embeddings.parquet")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    gen_lineitem(con)
    gen_documents(con)
    gen_embeddings(con)
    for t in ("lineitem", "documents", "embeddings"):
        n = con.execute(f"SELECT count(*) FROM '{OUT}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows -> {OUT}/{t}.parquet")


if __name__ == "__main__":
    main()
