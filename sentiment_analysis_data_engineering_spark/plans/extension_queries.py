"""Extension queries: dedup, similarity search, text analysis,
multimodal plumbing — the LLM-training-data operators (no reference
counterpart; SURVEY.md §7.2.6).

Oracle notes:
- md5 / regex / list lambdas exist in both engines → text analysis and
  exact/n-gram dedup are fully oracle-checked.
- sketch-based queries are oracle-checked through CONTRACTS rather
  than rows-only: MinHash-LSH against the exact-Jaccard pair set
  (recall equality), SimHash in portable md5-hash mode recomputed
  bit-for-bit by DuckDB, ANN via per-query recall bounds vs the exact
  scan, packing via conservation invariants. Only MLlib KMeans (seed/
  partitioning-dependent) and the multimodal decode remain rows-only.
- embeddings are float32; BOTH engines cast elements to double BEFORE
  any arithmetic, and every similarity is rounded to 6 dp so summation
  order can't flip a comparison.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import quality_checks as qc
from ..operators import sampling as sp
from ..operators import similarity as sim
from ..operators import skew as sk
from ..operators import profile as pf
from ..operators import text as tx
from ..sources.io import scan
from .registry import fixture_rows, load_tables, query

# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(ceil(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / 4.0)
                + length(regexp_replace(text, '[A-Za-z\\s]', '', 'g')) AS BIGINT)
             AS n_bpe_ish
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting over documents."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.bpe_ish_token_count("text").cast("long").alias("n_bpe_ish"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS BIGINT)
               AS n_punct,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           round(n_chars / n_tokens, 4)  AS avg_token_len,
           round(n_punct / n_chars, 6)   AS punct_ratio,
           round(n_digit / n_chars, 6)   AS digit_ratio,
           floor((0.4 * least(n_tokens / 64.0, 1.0)
               + 0.3 * (1.0 - least(round(n_punct / n_chars, 6) * 10, 1.0))
               + 0.3 * (1.0 - least(round(n_digit / n_chars, 6) * 10, 1.0)))
               * 10000 + 0.5) / 10000.0
             AS quality
    FROM f
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score per document."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    f = tx.quality_features("text")
    return documents.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        f["avg_token_len"].alias("avg_token_len"),
        f["punct_ratio"].alias("punct_ratio"),
        f["digit_ratio"].alias("digit_ratio"),
        tx.quality_score("text").alias("quality"),
    )


@query(
    "text_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(toks, x -> list_contains(
               ['the','and','of','to','a','in','is','it','that'], x))) AS BIGINT) AS s_en,
             CAST(len(list_filter(toks, x -> list_contains(
               ['der','die','das','und','ist','nicht','ein','zu'], x))) AS BIGINT) AS s_de,
             CAST(len(list_filter(toks, x -> list_contains(
               ['le','la','les','et','est','un','une','dans'], x))) AS BIGINT) AS s_fr,
             CAST(len(list_filter(toks, x -> list_contains(
               ['el','los','las','y','es','un','una','en'], x))) AS BIGINT) AS s_es
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
                WHEN s_es > 0 THEN 'es'
                ELSE 'und' END AS predicted_lang
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic vs the labeled lang column."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tx.lang_id("text").alias("predicted_lang"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) per document."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return documents.select(
        "doc_id", tx.fingerprint_md5("text").alias("fingerprint")
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS n_copies,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: hash-aggregate, min-id survivor."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return dd.exact_dedup(documents, "text", "doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) >= 5
                    THEN [array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]
                    ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks
    ),
    sh AS (SELECT doc_id, unnest(g) AS s FROM grams),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    freq AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
    kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN freq USING (s)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard near-dup pairs (threshold 0.2)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        documents, "text", "doc_id", n=5, threshold=0.2, max_bucket_size=1000
    )


@query(
    "dedup_minhash_lsh",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) >= 5
                    THEN [array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]
                    ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks
    ),
    sh AS (SELECT doc_id, unnest(g) AS s FROM grams),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.2
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands) candidates, verified with exact
    Jaccard ≥ 0.2 — (id_a, id_b, jaccard).

    The oracle is the full exact-Jaccard pair set at the same
    threshold, i.e. the driver gate checks an end-to-end RECALL
    EQUALITY contract: banding (S-curve midpoint ≈ 0.5) plus the
    exact-Jaccard verification stage must reproduce the exact
    ground-truth pair set on this corpus. A missed candidate or a
    drifted signature breaks the hash match. (xxhash64 itself is
    Spark-side only; what's checked is the verified output, whose
    arithmetic — array_intersect counts over distinct 5-gram
    shingles — both engines share.)"""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        documents, "text", "doc_id",
        num_hashes=64, bands=16, shingle_size=5, verify_threshold=0.2,
    ).select("id_a", "id_b", "jaccard")


def _simhash_oracle() -> str:
    """DuckDB recomputes the ENTIRE SimHash pipeline bit-for-bit:
    md5-derived 64-bit token hashes (two 32-bit halves — portable to
    any engine), 64 sign-sums, sign packing, 4×16-bit pigeonhole
    chunk join, bit_count(xor) Hamming refine. Generated SQL: 64
    conditional-sum columns + 64 pack terms."""
    bits = []
    for b in range(64):
        src = f"(hlo >> {b})" if b < 32 else f"(hhi >> {b - 32})"
        bits.append(f"sum(CASE WHEN ({src} & 1) = 1 THEN 1 ELSE -1 END) AS c{b}")
    packs = []
    for b in range(64):
        # 1<<63 overflows DuckDB's left shift; the sign bit is the
        # min-long literal instead
        term = "(-9223372036854775808)::BIGINT" if b == 63 else f"(1::BIGINT << {b})"
        packs.append(f"(CASE WHEN c{b} > 0 THEN {term} ELSE 0::BIGINT END)")
    return f"""
    WITH tok0 AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    tok AS (SELECT * FROM tok0 WHERE t <> ''),
    h AS (
      SELECT doc_id,
             ('0x' || substring(md5(t),1,8))::BIGINT AS hhi,
             ('0x' || substring(md5(t),9,8))::BIGINT AS hlo
      FROM tok
    ),
    c AS (SELECT doc_id, {', '.join(bits)} FROM h GROUP BY doc_id),
    s AS (SELECT doc_id, ({' + '.join(packs)}) AS simhash FROM c),
    e AS (
      SELECT doc_id, simhash, ci, (simhash >> (ci*16)) & 65535 AS cv
      FROM s, (VALUES (0),(1),(2),(3)) chunk(ci)
    ),
    p AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS ha, b.simhash AS hb
      FROM e a JOIN e b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM p WHERE bit_count(xor(ha, hb)) <= 3
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 via 4-chunk pigeonhole).

    Runs in portable-hash mode (``hash_fn="md5"``) so the DuckDB
    oracle can rebuild the identical 64-bit sketches and the gate
    hash-checks the full pipeline — signatures, banding recall, and
    Hamming refine. The xxhash64 default stays the production path
    (same plan, cheaper hash)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return dd.simhash_pairs(
        documents, "text", "doc_id", max_hamming=3, hash_fn="md5"
    )


@query(
    "corpus_curation",
    oracle="""
    WITH f AS (
      SELECT doc_id, source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split_regex(trim(text),'\\s+')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text,'[^.,;:!?''"()-]','','g')) AS BIGINT)
               AS n_punct,
             CAST(length(regexp_replace(text,'[^0-9]','','g')) AS BIGINT) AS n_digit,
             string_split_regex(trim(text),'\\s+') AS toks,
             trim(regexp_replace(lower(text),'\\s+',' ','g')) AS nt
      FROM documents
    ),
    q AS (
      SELECT doc_id, source, n_tokens, nt,
             floor((0.4*least(n_tokens/64.0,1.0)
                  + 0.3*(1.0-least(round(n_punct/n_chars,6)*10,1.0))
                  + 0.3*(1.0-least(round(n_digit/n_chars,6)*10,1.0)))*10000+0.5)
               /10000.0 AS quality,
             CAST(len(list_filter(toks, x -> list_contains(
               ['the','and','of','to','a','in','is','it','that'], x))) AS BIGINT) AS s_en,
             CAST(len(list_filter(toks, x -> list_contains(
               ['der','die','das','und','ist','nicht','ein','zu'], x))) AS BIGINT) AS s_de,
             CAST(len(list_filter(toks, x -> list_contains(
               ['le','la','les','et','est','un','une','dans'], x))) AS BIGINT) AS s_fr,
             CAST(len(list_filter(toks, x -> list_contains(
               ['el','los','las','y','es','un','una','en'], x))) AS BIGINT) AS s_es
      FROM f
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY nt),
    cur AS (
      SELECT q.source, q.n_tokens, q.quality FROM q JOIN keep USING (doc_id)
      WHERE q.n_tokens >= 20 AND q.quality >= 0.8
        AND q.s_en >= greatest(q.s_de, q.s_fr, q.s_es) AND q.s_en > 0
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality), 4) AS avg_quality
    FROM cur GROUP BY source
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: exact-dup survivors only,
    predicted-English, ≥20 tokens, quality ≥ 0.8 — reported per source.

    One lazy plan: the survivor set is a semi-joinable aggregate (min
    id per normalized text), the gates are all JVM scalar expressions,
    and the rollup is a partial+final hash aggregate on source. The
    shape a 100 TB curation run wants: no Python, two keyed shuffles
    (fingerprint agg, source agg) + one semi join.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    scored = documents.select(
        "doc_id",
        "source",
        tx.quality_score("text").alias("quality"),
        tx.token_count("text").alias("n_tokens"),
        tx.lang_id("text").alias("pred_lang"),
    )
    survivors = dd.exact_dedup(documents, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    return (
        scored.join(survivors, "doc_id", "left_semi")
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("quality") >= 0.8)
            & (F.col("pred_lang") == "en")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE
    keys AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k1,
             array_to_string(
               (string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                             ' '))[1:5], ' ') AS k2
      FROM documents
    ),
    e1 AS (SELECT min(doc_id) OVER (PARTITION BY k1) AS a, doc_id AS b
           FROM keys WHERE k1 IS NOT NULL),
    e2 AS (SELECT min(doc_id) OVER (PARTITION BY k2) AS a, doc_id AS b
           FROM keys WHERE k2 IS NOT NULL),
    star AS (
      SELECT a, b FROM e1 WHERE a <> b
      UNION
      SELECT a, b FROM e2 WHERE a <> b
    ),
    edges AS (SELECT a, b FROM star UNION SELECT b AS a, a AS b FROM star),
    walk(id, comp) AS (
      SELECT DISTINCT a AS id, a AS comp FROM edges
      UNION
      SELECT e.b AS id, w.comp FROM walk w JOIN edges e ON e.a = w.id
    )
    SELECT CAST(id AS BIGINT) AS doc_id,
           CAST(min(comp) AS BIGINT) AS component
    FROM walk GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate groups: star blocking edges on two keys
    (exact-text fingerprint + first-5-token prefix) → min-label
    connected components. The oracle replays the same graph with a
    recursive CTE — a full value check on an iterative algorithm."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    norm = tx.normalize_text(F.col("text"))
    edges = dd.blocking_edges(
        documents,
        "doc_id",
        F.md5(norm.cast("binary")),
        F.array_join(F.slice(F.split(norm, " "), 1, 5), " "),
    )
    cc = dd.connected_components(edges)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             embedding,
             sqrt(list_aggregate(
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum')) AS nrm
      FROM embeddings
    ),
    d AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
             any_value(a.nrm) AS na, any_value(b.nrm) AS nb
      FROM n a JOIN n b ON a.vec_id < b.vec_id, range(1, 65) r(i)
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(dot / (na * nb), 6) AS cosine
    FROM d
    WHERE round(dot / (na * nb), 6) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.4) via the triangle
    block-grid exact join (Arrow/BLAS per-cell matmul engine). At this
    low threshold no LSH banding holds recall, so exact is the honest
    plan; hyperplane-LSH + refine kicks in for threshold ≥ 0.8."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    return dd.embedding_cosine_pairs(
        embeddings, "embedding", "vec_id", threshold=0.4
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@query(
    "ann_cosine_topk",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_aggregate(
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum')) AS nrm
      FROM embeddings
    ),
    q AS (SELECT * FROM n WHERE vec_id < 10),
    d AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             sum(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS dot,
             any_value(q.nrm) AS nq, any_value(c.nrm) AS nc
      FROM q JOIN n c ON q.vec_id <> c.vec_id, range(1, 65) r(i)
      GROUP BY 1, 2
    ),
    s AS (
      SELECT query_id, neighbor_id, round(dot / (nq * nc), 6) AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(dot / (nq * nc), 6) DESC, neighbor_id)
                  AS INTEGER) AS rank
      FROM d
    )
    SELECT query_id, neighbor_id, cosine, rank FROM s WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < 10): broadcast
    queries over one corpus scan, per-query window top-k."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 10)
    return sim.cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id", k=5
    )


#: per-query recall lower bounds the approximate indexes must clear
#: against the exact top-k, measured with margin on the driver corpora
#: (LSH ≥ 0.8 and IVF ≥ 0.6 at every sf; both methods are fully
#: deterministic, so these hold exactly, not in expectation).
_ANN_RECALL_ORACLE = """
SELECT vec_id AS query_id,
       CAST(5 AS BIGINT) AS n_results,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


def _ann_recall_contract(approx: DataFrame, exact: DataFrame, bound: float) -> DataFrame:
    """Self-auditing form of an ANN query: emit, per query vector, how
    many results the index returned and whether its recall against the
    exact top-k clears ``bound``. The gate hash-checks that every query
    returns a full k and passes — a drifted plane, broken banding, or
    recall regression flips a row and fails the driver comparison."""
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("_hits"))
    )
    return (
        approx.groupBy("query_id")
        .agg(F.count("*").alias("n_results"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            (F.coalesce("_hits", F.lit(0)) >= F.lit(bound) * 5).alias("recall_ok"),
        )
    )


@query("ann_lsh_topk", oracle=_ANN_RECALL_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via deterministic random-hyperplane LSH
    (12 planes, 6 bands) + exact re-rank within candidates, reported
    as the per-query recall contract vs the exact scan (≥ 0.8)."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 10)
    approx = sim.lsh_cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id",
        k=5, num_planes=12, bands=6, dim=64,
    )
    exact = sim.cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id", k=5
    )
    return _ann_recall_contract(approx, exact, 0.8)


@query("ann_ivf_topk", oracle=_ANN_RECALL_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF-Flat: deterministic sampled coarse
    quantizer (16 cells), queries probe their 4 nearest cells, exact
    cosine re-rank inside candidates; reported as the per-query recall
    contract vs the exact scan (≥ 0.6)."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 10)
    approx = sim.ivf_cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id",
        k=5, n_centroids=16, n_probe=4,
    )
    exact = sim.cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id", k=5
    )
    return _ann_recall_contract(approx, exact, 0.6)


@query("ann_pq_topk", oracle=_ANN_RECALL_ORACLE)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization + asymmetric distance
    (operators/similarity.py::pq_cosine_topk — Jégou et al. 2011): the
    corpus is encoded once to 8 codeword ids per vector, the ADC scan
    scores pairs with 8 table lookups instead of a 64-dim dot product
    (the memory-bandwidth ANN play at 100 TB), and the top-96 ADC
    candidates re-rank exactly. Reported as the per-query recall
    contract vs the exact scan (≥ 0.6 with the deterministic
    Lloyd-trained codebooks — worst-query 0.6/0.8/0.6 measured at
    sf0.001/sf0.01/sf0.1; distributed MLlib-KMeans codebooks are the
    recall upgrade when the training sample must exceed the driver).

    The re-rank depth SCALES with the corpus — max(96, n/8) — because
    a fixed depth over a growing corpus silently starves recall (at
    sf0.1's 2000 vectors the original fixed 96 dropped worst-query
    recall to 0.4). n/8 keeps the FIXED tiny fixture codebook honest
    across the test ladder; at production scale the sharper lever is
    growing n_codes/m with the corpus so the ADC ranking itself stays
    precise and the re-rank depth stays sublinear."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 10)
    n_corpus = fixture_rows(sf_dir, "embeddings")
    approx = sim.pq_cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id",
        k=5, m=8, n_codes=64, n_rerank=max(96, n_corpus // 8),
    )
    exact = sim.cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id", k=5
    )
    return _ann_recall_contract(approx, exact, 0.6)


@query("ann_ivfpq_topk", oracle=_ANN_RECALL_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF-PQ (operators/similarity.py::
    ivfpq_cosine_topk — the FAISS ``IVF16,PQ8`` architecture): a
    Lloyd-trained 16-cell coarse quantizer prunes the corpus (queries
    probe 4 cells — the partition-pruning equi-join), vectors are
    PQ-encoded on their cell RESIDUALS (finer quantization from the
    same code budget), and per-(query, cell) ADC tables score the
    probed fraction before the exact corpus-scaled re-rank
    (max(96, n/8) — same rationale and measurements as ann_pq_topk).
    Reported as the per-query recall contract vs the exact scan
    (≥ 0.6; worst-query 0.6 measured at sf0.001, sf0.01 AND sf0.1)."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 10)
    n_corpus = fixture_rows(sf_dir, "embeddings")
    approx = sim.ivfpq_cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id",
        k=5, n_cells=16, n_probe=4, m=8, n_codes=64,
        n_rerank=max(96, n_corpus // 8),
    )
    exact = sim.cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id", k=5
    )
    return _ann_recall_contract(approx, exact, 0.6)


#: planted-cluster centers for ann_clustered_recall — k unit-norm
#: Gaussian directions from one fixed seed, generated ONCE at import
#: (16×32 floats of model-constant state; they ride the plan as
#: literals, the same way the LSH hyperplanes do).
_CLUSTERED_K, _CLUSTERED_DIM, _CLUSTERED_NOISE = 16, 32, 0.08


@contextmanager
def _scratch_index(prefix: str):
    """Path of an IVF-PQ index in a fresh temp dir (siblings such as
    ``f"{path}_landing"`` live in the same dir). On exit the index's
    cached model is evicted and the dir removed, so a query that pins
    its result before leaving the block leaves nothing behind."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    path = f"{tmp}/idx"
    try:
        yield path
    finally:
        sim.evict_model_cache(path)
        shutil.rmtree(tmp, ignore_errors=True)


def _clustered_centers():
    import numpy as np

    rng = np.random.RandomState(20260816)
    C = rng.normal(size=(_CLUSTERED_K, _CLUSTERED_DIM))
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def _planted_cluster_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A CLUSTERED embedding fixture derived from the ids of the
    driver's embeddings table: row ``vec_id`` belongs to planted
    cluster ``vec_id % k`` and its vector is that cluster's fixed
    unit-norm center plus small deterministic per-component noise
    (``xxhash64(vec_id, j)`` scaled — pure JVM expressions, so the
    synthesis is distributed and constant-folds the centers as
    literals; at 100 TB this generates in one narrow projection).
    The driver fixture's embeddings are near-random (documented in the
    retrain-cycle contract), a regime where IVF cell pruning is
    near-uninformative — this fixture is the complement: data WITH
    structure, where the index must demonstrably help (r10 verdict
    item 3)."""
    centers = _clustered_centers()
    ids = load_tables(spark, sf_dir, "embeddings")[0].select("vec_id")
    cl = F.pmod(F.col("vec_id"), F.lit(_CLUSTERED_K))
    comps = []
    for j in range(_CLUSTERED_DIM):
        center_j = F.element_at(
            F.array(
                *[
                    F.lit(float(centers[c, j]))
                    for c in range(_CLUSTERED_K)
                ]
            ),
            (cl + 1).cast("int"),
        )
        noise_j = (
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(j)), F.lit(2001))
            / 1000.0
            - 1.0
        ) * _CLUSTERED_NOISE
        comps.append((center_j + noise_j).cast("float"))
    return ids.select("vec_id", F.array(*comps).alias("embedding"))


@query(
    "ann_clustered_recall",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings
            WHERE vec_id < 10) AS n_queries,
           (SELECT CAST(5 * count(*) AS BIGINT) FROM embeddings
            WHERE vec_id < 10) AS n_results,
           TRUE AS structure_found_ok,
           TRUE AS pruning_informative_ok,
           TRUE AS recall_floor_ok
    """,
)
def ann_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISCRIMINATIVE recall gate (r10 verdict item 3): the driver
    fixture's near-random embeddings only show the index degrading
    gracefully without structure — this query shows it HELPING when
    structure exists. A planted-cluster fixture
    (:func:`_planted_cluster_embeddings`: 16 well-separated unit-norm
    Gaussian centers, deterministic noise) is indexed with the same
    IVF16,PQ8 architecture as the persisted-index family, and three
    gates are checked, all by exact integer arithmetic on bounded
    counts:

    - ``structure_found_ok``       the trained coarse quantizer
      recovered the planted structure: all 16 cells occupied;
    - ``pruning_informative_ok``   mean recall@5 vs the exact scan is
      ≥ 0.8 at n_probe=2 — probing 1/8 of the cells already finds the
      neighbors, i.e. the cell assignment is informative, not uniform
      (the near-random fixture sits far below this at the same probe
      width);
    - ``recall_floor_ok``          mean recall@5 ≥ 0.9 at n_probe=8 —
      the verdict's headline number (measured 1.0 at sf0.001, sf0.01
      AND sf0.1).

    Recall comparisons are integer cross-multiplications
    (``10·hits ≥ 9·total``) over |queries|·k-bounded join counts — no
    float means. The index is built in a temp dir and discarded; the
    synthesis, build, probe and exact baseline are all the operators
    the persisted-index family already gates, so this row isolates
    exactly one new claim: IVF-PQ pays off on clustered data."""
    planted = _planted_cluster_embeddings(spark, sf_dir).localCheckpoint(
        eager=True
    )
    queries_df = planted.filter(F.col("vec_id") < 10)
    exact = (
        sim.cosine_topk(
            queries_df, planted, vec_col="embedding", id_col="vec_id", k=5
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # consumed by two hit-joins
    )
    n_exact = exact.count()
    n_queries = queries_df.count()

    with _scratch_index("spark_graft_ivfpq_clustered_") as path:
        sim.ivfpq_write_index(
            planted, path, vec_col="embedding", id_col="vec_id",
            n_cells=16, m=8, n_codes=64,
        )
        n_cells_occupied = (
            scan(spark, f"{path}/codes", schema=sim.CODES_SCHEMA)
            .select("cell").distinct().count()
        )

        def probe_hits(n_probe: int) -> tuple[int, int]:
            approx = sim.ivfpq_probe_index(
                spark, path, queries_df, planted,
                vec_col="embedding", id_col="vec_id", k=5, n_probe=n_probe,
            ).select("query_id", "neighbor_id")
            n_results = approx.count()
            hits = approx.join(
                exact, ["query_id", "neighbor_id"]
            ).count()  # ≤ |queries|·k — bounded
            return n_results, hits

        n_results8, hits8 = probe_hits(8)
        _, hits2 = probe_hits(2)
    planted.unpersist()
    exact.unpersist()
    return spark.createDataFrame(
        [(
            n_queries,
            n_results8,
            n_cells_occupied == _CLUSTERED_K,
            10 * hits2 >= 8 * n_exact,
            10 * hits8 >= 9 * n_exact,
        )],
        "n_queries long, n_results long, structure_found_ok boolean, "
        "pruning_informative_ok boolean, recall_floor_ok boolean",
    )


@query(
    "ann_clustered_recall_families",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings
            WHERE vec_id < 10) AS n_queries,
           (SELECT CAST(5 * count(*) AS BIGINT) FROM embeddings
            WHERE vec_id < 10) AS n_exact,
           TRUE AS lsh_recall_ok,
           TRUE AS ivf_recall_ok,
           TRUE AS pq_recall_ok
    """,
)
def ann_clustered_recall_families(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The discriminative recall gate EXTENDED to the other ANN
    families (r11 verdict item 2): ``ann_clustered_recall`` proves
    IVF-PQ pays off on structured data, but the LSH / IVF-Flat / PQ
    contract rows still measure only the near-random driver fixture —
    the regime where cell pruning and banding are close to
    uninformative, so their 0.6–0.8 floors are graceful-degradation
    bounds, not proof the structures help. This row runs all three
    remaining families against the SAME planted-cluster fixture
    (:func:`_planted_cluster_embeddings`) at their STANDARD registry
    parameters (LSH 12 planes / 6 bands; IVF 16 cells / 4 probes; PQ
    m=8, 64 codes, corpus-scaled re-rank) and gates mean recall@5
    ≥ 0.9 for EACH — by exact integer cross-multiplication
    (``10·hits ≥ 9·total``) over |queries|·k-bounded join counts, the
    same arithmetic as the IVF-PQ gate (measured 1.0 / 1.0 / 1.0 at
    sf0.001, sf0.01 and sf0.1 for all three families).

    Why it holds by construction, family by family: same-cluster
    vectors sit ≈20° apart (unit center + ‖noise‖≈0.26), so a 2-plane
    LSH band agrees with p≈0.8 and six bands miss with p≈6e-5; the
    16-cell coarse quantizer recovers the 16 planted directions, so a
    query's true top-5 (always same-cluster) lands in its own probed
    cell; PQ's codebooks quantize residuals an order tighter than the
    inter-center gaps, so ADC ranks same-cluster candidates ahead of
    everything the re-rank then orders exactly. The exact baseline is
    computed ONCE and both pins release before return — the fixture
    synthesis, the three approximate operators and the exact scan are
    each already gated elsewhere; this row isolates one new claim per
    family: the structure HELPS when structure exists."""
    planted = _planted_cluster_embeddings(spark, sf_dir).localCheckpoint(
        eager=True
    )
    queries_df = planted.filter(F.col("vec_id") < 10)
    exact = (
        sim.cosine_topk(
            queries_df, planted, vec_col="embedding", id_col="vec_id", k=5
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)  # consumed by three hit-joins
    )
    n_exact = exact.count()
    n_queries = queries_df.count()
    n_corpus = fixture_rows(sf_dir, "embeddings")

    def hits(approx: DataFrame) -> int:
        return (
            approx.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"])
            .count()  # ≤ |queries|·k — bounded
        )

    lsh_hits = hits(
        sim.lsh_cosine_topk(
            queries_df, planted, vec_col="embedding", id_col="vec_id",
            k=5, num_planes=12, bands=6, dim=_CLUSTERED_DIM,
        )
    )
    ivf_hits = hits(
        sim.ivf_cosine_topk(
            queries_df, planted, vec_col="embedding", id_col="vec_id",
            k=5, n_centroids=16, n_probe=4,
        )
    )
    pq_hits = hits(
        sim.pq_cosine_topk(
            queries_df, planted, vec_col="embedding", id_col="vec_id",
            k=5, m=8, n_codes=64, n_rerank=max(96, n_corpus // 8),
        )
    )
    planted.unpersist()
    exact.unpersist()
    return spark.createDataFrame(
        [(
            n_queries,
            n_exact,
            10 * lsh_hits >= 9 * n_exact,
            10 * ivf_hits >= 9 * n_exact,
            10 * pq_hits >= 9 * n_exact,
        )],
        "n_queries long, n_exact long, lsh_recall_ok boolean, "
        "ivf_recall_ok boolean, pq_recall_ok boolean",
    )


@query(
    "ann_index_lifecycle",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_results,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_indexed,
           TRUE AS index_complete_ok,
           TRUE AS merge_idempotent_ok,
           TRUE AS recall_mean_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED ANN index lifecycle end to end — build → merge →
    re-merge → probe — the way `build_minhash_index` tells the dedup
    index story (operators/similarity.py::ivfpq_write_index /
    ivfpq_merge_index / ivfpq_probe_index):

    1. BUILD an IVF-PQ index from 80% of the corpus (vec_id % 5 != 0):
       model + codes persisted, codes parquet-partitioned by coarse
       cell (one file per cell directory);
    2. MERGE the held-out 20% under the EXISTING model — no retrain,
       encode + cell-pruned anti-join + partition append;
    3. RE-MERGE the same batch — idempotence on disk;
    4. PROBE the standard 10 query vectors against the merged index;
       candidates stream off the probed cell DIRECTORIES only
       (file-listing pruning), then the shared ADC + exact-rerank
       tail.

    Self-auditing contract row per query, all hash-gated:

    - ``n_indexed`` / ``index_complete_ok`` — the codes table holds
      every corpus id EXACTLY once after both merges (count ==
      countDistinct == corpus count; a duplicating re-merge or a
      dropped batch flips it);
    - ``merge_idempotent_ok``  — merge 1 added exactly the batch,
      merge 2 added zero rows (from the real merge stats);
    - ``recall_mean_ok``  — MEAN probe recall vs the exact scan ≥ 0.6
      across the 10 queries at n_probe=8 (exact integer gate: total
      hits ≥ 0.6·5·10; measured 0.70 / 0.78 / 0.76 at
      sf0.001/0.01/0.1), with the index trained on a hash-uniform
      sample that the query vectors are NOT privileged members of
      (r10 — the earlier per-query 0.6 bound was an artifact of the
      id-prefix fit sample always containing the 10 query vectors).
      The fixture embeddings are near-random (top-1 cosine ≈ 0.37,
      no cluster structure), the adversarial case for a coarse
      quantizer: recall tracks the probed fraction, per-query tails
      are coverage luck, so the honest contract is the mean at a
      stated probe width — per-query CORRECTNESS of what a probe
      returns is pinned separately by the full-probe/full-rerank ==
      exact laws (tests/test_similarity.py). In production the
      sharper lever is a retrain-and-reindex cadence keyed to merge
      volume, not ever-wider probes.

    Scale story: this is the index-maintenance pattern for a growing
    100 TB corpus — train once on a bounded sample, encode
    incrementally batch by batch (each touching only its cell
    partitions), probe reading n_probe/n_cells of the index bytes.
    The build/merge here are real writes to a scratch dir; the result
    is pinned eagerly before cleanup. Bench shape: wall-clock is
    dominated by the FIXED job overheads of ~a dozen sequential
    lifecycle actions (writes, model collects, audit counts) — the
    data-scaled work is an Arrow encode pass + a cell-pruned probe —
    so the sf0.01→sf0.1 scaling ratio, not the absolute seconds, is
    the number that reflects the design."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    base = embeddings.filter(F.col("vec_id") % 5 != 0)
    delta = embeddings.filter(F.col("vec_id") % 5 == 0)
    queries_df = embeddings.filter(F.col("vec_id") < 10)
    n_corpus = fixture_rows(sf_dir, "embeddings")

    with _scratch_index("spark_graft_ivfpq_idx_") as path:
        sim.ivfpq_write_index(base, path, vec_col="embedding", id_col="vec_id")
        m1 = sim.ivfpq_merge_index(
            spark, path, delta, vec_col="embedding", id_col="vec_id"
        )
        m2 = sim.ivfpq_merge_index(
            spark, path, delta, vec_col="embedding", id_col="vec_id"
        )
        merge_ok = (
            m1["n_added"] == m1["n_batch"]
            and m1["n_batch"] > 0
            and m2["n_added"] == 0
        )
        # pin the probe once: the recall-hits leg and the per-query
        # count both consume it, and each would otherwise re-run the
        # qtab pass + pruned codes read + ADC window + rerank
        probe = sim.ivfpq_probe_index(
            spark, path, queries_df, embeddings,
            vec_col="embedding", id_col="vec_id",
            k=5, n_probe=8, n_rerank=max(96, n_corpus // 8),
        ).localCheckpoint(eager=True)
        exact = sim.cosine_topk(
            queries_df, embeddings, vec_col="embedding", id_col="vec_id", k=5
        )
        audit = scan(spark, f"{path}/codes", schema=sim.CODES_SCHEMA).agg(
            F.count("*").alias("_n_rows"),
            F.countDistinct("neighbor_id").alias("_n_ids"),
        )
        n_queries = queries_df.count()
        total_hits = probe.join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        ).count()
        # mean-recall gate as exact integers: Σ hits >= 0.6 * 5 * |Q|
        recall_mean_ok = 10 * total_hits >= 6 * 5 * n_queries
        out = (
            probe.groupBy("query_id")
            .agg(F.count("*").alias("n_results"))
            .crossJoin(F.broadcast(audit))  # 1-row audit scalar
            .select(
                "query_id",
                "n_results",
                F.col("_n_ids").alias("n_indexed"),
                (
                    (F.col("_n_rows") == F.col("_n_ids"))
                    & (F.col("_n_rows") == F.lit(n_corpus))
                ).alias("index_complete_ok"),
                F.lit(merge_ok).alias("merge_idempotent_ok"),
                F.lit(recall_mean_ok).alias("recall_mean_ok"),
            )
            .localCheckpoint(eager=True)  # pin before the scratch dir dies
        )
        # `out` is eager, so `probe`'s consumers are all done — free it
        # now; `out` itself is registered so release_pinned() reclaims
        # it after the harness hashes the result
        probe.unpersist()
        dd.register_pinned(out)
    return out


@query(
    "ann_index_delete_reembed",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_results,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings
            WHERE vec_id % 7 = 3) AS n_deleted,
           TRUE AS post_delete_excluded_ok,
           TRUE AS delete_complete_ok,
           TRUE AS conservation_ok,
           TRUE AS reembed_stats_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def ann_index_delete_reembed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD half of the persisted-index lifecycle —
    ``ann_index_lifecycle`` covers build → merge → probe; this covers
    DELETE → probe → RE-EMBED (operators/similarity.py::
    ivfpq_delete_ids / ivfpq_reembed), the maintenance merge cannot
    express (its anti-join KEEPS a stale encoding when a vector
    changes):

    1. BUILD the index over the full corpus;
    2. DELETE the vec_id % 7 == 3 subset — locate reads only the id +
       partition columns against a broadcast of the victims, rewrite
       touches only the cells that held them (dynamic partition
       overwrite; fully-emptied cell DIRECTORIES are removed so stale
       files cannot resurrect the ids);
    3. PROBE the standard 10 query vectors — deleted ids must be
       unreachable;
    4. RE-EMBED the victims under CHANGED vectors (every component
       negated) with the frozen model — delete(0 here, already gone) +
       encode + cell-pruned append.

    Self-auditing contract row per query, all hash-gated:

    - ``n_deleted`` — the victim count, from the real delete stats
      (the oracle recomputes it from the table);
    - ``post_delete_excluded_ok`` — the probe returned no victim id;
    - ``delete_complete_ok`` — post-delete codes count ==
      corpus − victims with ids still distinct;
    - ``conservation_ok`` — post-reembed count == countDistinct ==
      corpus count (delete+insert conserves the id set);
    - ``reembed_stats_ok`` — the reembed inserted exactly the victim
      batch (its delete leg found 0: the ids were already gone).

    The convergence law (re-running reembed lands the byte-identical
    on-disk state) and the new-geometry law (full-probe full-rerank
    == exact scan over the changed corpus) are pinned in pytest
    (tests/test_similarity.py::test_ivfpq_reembed_changed_vectors) —
    they need state comparison across runs, not a per-query row.

    Scale story: delete cost ∝ victims' cells, not index size; the
    id-locate scan is two thin columns of the codes table (id +
    directory-derived cell); re-embed is an Arrow encode of the batch
    plus appends into its cells. Nothing here reads the full index
    width. Same fixed-overhead bench shape as ann_index_lifecycle —
    ~a dozen sequential lifecycle actions dominate at test SF."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    corpus = embeddings.select("vec_id", "embedding")
    victims = corpus.filter(F.col("vec_id") % 7 == 3)
    queries_df = corpus.filter(F.col("vec_id") < 10)
    n_corpus = fixture_rows(sf_dir, "embeddings")

    with _scratch_index("spark_graft_ivfpq_scd_") as path:
        sim.ivfpq_write_index(
            corpus, path, vec_col="embedding", id_col="vec_id"
        )
        d = sim.ivfpq_delete_ids(spark, path, victims.select("vec_id"))
        n_victims = d["n_deleted"]
        post = scan(spark, f"{path}/codes", schema=sim.CODES_SCHEMA).agg(
            F.count("*").alias("_n"),
            F.countDistinct("neighbor_id").alias("_nd"),
        ).first()
        delete_complete = (
            post._n == post._nd == n_corpus - n_victims and n_victims > 0
        )
        probe = sim.ivfpq_probe_index(
            spark, path, queries_df, corpus,
            vec_col="embedding", id_col="vec_id",
            k=5, n_probe=8, n_rerank=max(96, n_corpus // 8),
        ).localCheckpoint(eager=True)
        changed = victims.select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
        r = sim.ivfpq_reembed(
            spark, path, changed, vec_col="embedding", id_col="vec_id"
        )
        reembed_stats_ok = r == {
            "n_batch": n_victims, "n_deleted": 0, "n_inserted": n_victims,
        }
        final = scan(spark, f"{path}/codes", schema=sim.CODES_SCHEMA).agg(
            F.count("*").alias("_n"),
            F.countDistinct("neighbor_id").alias("_nd"),
        ).first()
        conservation = final._n == final._nd == n_corpus
        excluded = (
            probe.groupBy("query_id").agg(
                F.count("*").alias("n_results"),
                F.max(
                    (F.col("neighbor_id") % 7 == 3).cast("int")
                ).alias("_hit_victim"),
            )
        )
        out = excluded.select(
            "query_id",
            "n_results",
            F.lit(n_victims).cast("long").alias("n_deleted"),
            (F.col("_hit_victim") == 0).alias("post_delete_excluded_ok"),
            F.lit(delete_complete).alias("delete_complete_ok"),
            F.lit(conservation).alias("conservation_ok"),
            F.lit(reembed_stats_ok).alias("reembed_stats_ok"),
        ).localCheckpoint(eager=True)  # pin before the scratch dir dies
        probe.unpersist()
        dd.register_pinned(out)
    return out


@query(
    "ann_index_drift_audit",
    oracle="""
    SELECT segment, n_vectors,
           TRUE AS coverage_ok,
           TRUE AS occupancy_skew_ok,
           TRUE AS residual_drift_ok
    FROM (
        SELECT 'base' AS segment, CAST(count(*) AS BIGINT) AS n_vectors
        FROM embeddings WHERE vec_id % 5 <> 0
        UNION ALL
        SELECT 'merged', CAST(count(*) AS BIGINT)
        FROM embeddings WHERE vec_id % 5 = 0
    ) t
    """,
)
def ann_index_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies what serving MERGED vectors on a FROZEN quantizer
    costs — the measurement behind ann_index_lifecycle's
    retrain-cadence note (operators/similarity.py::ivfpq_drift_audit).
    Build on the 80% base, merge the 20% holdout, then audit the
    persisted artifacts per segment:

    - reconstruction error from the STORED codes (never a re-encode,
      so a stale encoding would surface here), integer-quantized per
      row before summing — the aggregate is exact int64 arithmetic,
      bit-stable across partitionings;
    - per-cell occupancy (exact counts).

    Hash-gated contract per segment row:

    - ``n_vectors``          what the index holds (oracle recomputes
      from the table split);
    - ``coverage_ok``        the segment occupies ≥ half the coarse
      cells (a collapsed assignment would funnel merges into a few);
    - ``occupancy_skew_ok``  fullest cell ≤ 4× the segment average
      (measured ≤ 2.1× at sf0.001/0.01/0.1) — skew is what widens
      probes;
    - ``residual_drift_ok``  merged-segment mean reconstruction error
      ≤ 3× the trained segment's, compared by exact integer
      cross-multiplication (measured ratio ≈ 1.5× at all three SFs).

    The measured numbers calibrate the lifecycle's knobs: at ~1.5×
    residual drift the frozen model still serves mean recall ≥ 0.6 at
    n_probe=8 (ann_index_lifecycle's gate); the audit crossing these
    bounds is the signal to spend a retrain instead of ever-wider
    probes — and `ann_index_autoretrain_stream` is that signal wired
    into the maintainer, firing on batch-scoped drift.

    Scale: one keyed codes⋈corpus join + Arrow decode + two-level
    aggregate (operator docstring); the audit output is 2 rows, and
    the boolean comparison consumes that bounded collect — the same
    model-state class as the merge stats themselves."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    corpus = embeddings.select("vec_id", "embedding")
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)

    with _scratch_index("spark_graft_ivfpq_drift_") as path:
        build_meta = sim.ivfpq_write_index(
            base, path, vec_col="embedding", id_col="vec_id"
        )
        sim.ivfpq_merge_index(
            spark, path, delta, vec_col="embedding", id_col="vec_id"
        )
        seg = corpus.withColumn(
            "segment",
            F.when(F.col("vec_id") % 5 == 0, "merged").otherwise("base"),
        )
        audit = {
            r.segment: r
            for r in sim.ivfpq_drift_audit(
                spark, path, seg,
                vec_col="embedding", id_col="vec_id", segment_col="segment",
            ).collect()  # 2 rows — bounded model-state class
        }
    b, g = audit["base"], audit["merged"]
    # from the build's own stats (== the persisted artifacts'
    # ivfpq_read_model meta) — never a re-hardcoded default
    n_cells = build_meta["n_cells"]
    # exact integer cross-multiplications — no float mean ever formed
    drift_ok = (
        g.sum_qerr_micro * b.n_vectors <= 3 * b.sum_qerr_micro * g.n_vectors
    )
    rows = [
        (
            s.segment,
            s.n_vectors,
            2 * s.n_cells_occupied >= n_cells,
            s.max_cell_count * n_cells <= 4 * s.n_vectors,
            drift_ok,
        )
        for s in (b, g)
    ]
    return spark.createDataFrame(
        rows,
        "segment string, n_vectors long, coverage_ok boolean, "
        "occupancy_skew_ok boolean, residual_drift_ok boolean",
    )


@query(
    "ann_index_autocompact_stream",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS n_batches,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings
            WHERE vec_id % 5 IN (0, 2, 3)) AS total_added,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_indexed,
           TRUE AS compact_fired_ok,
           TRUE AS fragmentation_bounded_ok,
           TRUE AS index_complete_ok
    """,
)
def ann_index_autocompact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hands-free index maintenance, driver-gated end to end: the REAL
    Structured Streaming maintainer
    (streaming/events.py::run_ivfpq_merge_stream) ingests three
    single-file micro-batches into a persisted IVF-PQ index with
    ``auto_compact_max_files=3`` armed. Each merge appends one file to
    every cell its batch touches, so by the second batch some cell
    reaches 3 files — the zero-data-read metadata listing
    (operators/similarity.py::ivfpq_cell_file_counts) sees it and the
    trigger compacts, bounding worst-case probe file count at the
    threshold FOREVER without an operator on call. The trigger runs
    inside foreachBatch, so the single-writer rule holds by
    construction; merge insert-idempotence + compaction idempotence
    make the pair replay-safe across crashes.

    Hash-gated contract (one summary row — per-batch rows would hang
    the gate on file-source delivery order, which ties on modification
    time):

    - ``n_batches`` / ``total_added``  — the stream delivered every
      landed file exactly once and merged exactly the delta;
    - ``compact_fired_ok``             — auto-compaction actually ran
      (≥ 1 cell rewritten by the trigger, not by a caller);
    - ``fragmentation_bounded_ok``     — every batch observed ≤
      threshold files/cell AND the final listing does too;
    - ``index_complete_ok``            — post-stream codes hold every
      corpus id exactly once (compaction lost nothing).

    Scale story: the fragmentation probe is ~n_cells metadata calls
    per micro-batch (never a scan), compaction rewrites only
    multi-file cells, and the threshold turns probe IO from
    O(merges since last manual compact) into O(1). Bench shape is
    fixed streaming overhead (3 micro-batch round-trips + writes), not
    data-scaled work."""
    from ..streaming.events import run_ivfpq_merge_stream

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    corpus = embeddings.select("vec_id", "embedding")
    base = corpus.filter(~(F.col("vec_id") % 5).isin([0, 2, 3]))
    n_corpus = fixture_rows(sf_dir, "embeddings")

    with _scratch_index("spark_graft_ivfpq_ac_") as path:
        sim.ivfpq_write_index(base, path, vec_col="embedding", id_col="vec_id")
        landing = f"{path}_landing"
        for k in (0, 2, 3):  # three single-file micro-batches
            corpus.filter(F.col("vec_id") % 5 == k).coalesce(1).write.parquet(
                landing, mode="append"
            )
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        stats = run_ivfpq_merge_stream(
            stream, path, checkpoint=f"{path}_ckpt",
            vec_col="embedding", id_col="vec_id",
            auto_compact_max_files=3,
        )
        frag = sim.ivfpq_cell_file_counts(spark, path)
        final = scan(spark, f"{path}/codes", schema=sim.CODES_SCHEMA).agg(
            F.count("*").alias("_n"),
            F.countDistinct("neighbor_id").alias("_nd"),
        ).first()
    return spark.createDataFrame(
        [(
            len(stats),
            sum(s["n_added"] for s in stats),
            final._n,
            sum(s["n_cells_compacted"] for s in stats) > 0,
            all(s["max_files_per_cell"] <= 3 for s in stats)
            and max(frag.values()) <= 3,
            final._n == final._nd == n_corpus,
        )],
        "n_batches long, total_added long, n_indexed long, "
        "compact_fired_ok boolean, fragmentation_bounded_ok boolean, "
        "index_complete_ok boolean",
    )


@query(
    "ann_index_retrain_cycle",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_results,
           TRUE AS drift_improved_ok,
           TRUE AS retrained_drift_ok,
           TRUE AS recall_mean_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def ann_index_retrain_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain-cadence signal ACTED ON — closing the loop
    `ann_index_drift_audit` opens: build on the 80% base, merge the
    20% holdout (the frozen-quantizer regime), audit, RETRAIN the
    whole index from the current corpus (`ivfpq_write_index` — retrain
    IS a rebuild: fresh centroids + codebooks + re-encoded codes,
    overwriting in place under the same single-writer rule as every
    maintenance verb), audit again, probe.

    Hash-gated contract per query row:

    - ``drift_improved_ok``   — the merged-segment drift ratio STRICTLY
      fell across the retrain, compared by exact integer
      cross-multiplication of the two audits' error sums (n_vectors
      cancel: s2ₘ·s1ᵦ < s1ₘ·s2ᵦ) — measured 1.48/1.52/1.09 → ≤1.01
      at sf0.001/0.01/0.1;
    - ``retrained_drift_ok``  — post-retrain drift ratio ≤ 5/4 (again
      integer cross-multiplied; a fresh model sees both segments as
      training data, so ≈1.0 is the expected value);
    - ``recall_mean_ok``      — the retrained index serves MEAN recall
      ≥ 0.6 across the 10 queries at the standard n_probe=8 (exact
      integer gate, total hits ≥ 30; measured 0.78 / 0.72 / 0.68 at
      sf0.001/0.01/0.1 under the hash-uniform fit sample). What a
      retrain buys on THIS fixture is the drift legs above — encoding
      quality restored so merged rows are served as faithfully as
      trained ones; it cannot buy cell-coverage recall here because
      the fixture embeddings are near-random (no cluster structure
      for fresh centroids to exploit — see ann_index_lifecycle), so
      recall tracks probed fraction for frozen and fresh models
      alike. (The r9 "recall ≥ 0.6 at HALF the probe width" claim
      was an artifact of the id-prefix fit sample always containing
      the query vectors; r10's honest hash sample retired it.)

    Scale story: retraining costs one bounded-sample model fit + one
    full re-encode + rewrite — the most expensive maintenance verb,
    which is exactly why it wants a measured trigger (the drift audit)
    instead of a schedule guess. Same fixed-overhead bench shape as
    the other lifecycle queries."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    corpus = embeddings.select("vec_id", "embedding")
    base = corpus.filter(F.col("vec_id") % 5 != 0)
    delta = corpus.filter(F.col("vec_id") % 5 == 0)
    queries_df = corpus.filter(F.col("vec_id") < 10)
    n_corpus = fixture_rows(sf_dir, "embeddings")
    seg = corpus.withColumn(
        "segment",
        F.when(F.col("vec_id") % 5 == 0, "merged").otherwise("base"),
    )

    def audit(path):
        return {
            r.segment: r
            for r in sim.ivfpq_drift_audit(
                spark, path, seg,
                vec_col="embedding", id_col="vec_id", segment_col="segment",
            ).collect()  # 2 rows — bounded model-state class
        }

    with _scratch_index("spark_graft_ivfpq_rt_") as path:
        sim.ivfpq_write_index(base, path, vec_col="embedding", id_col="vec_id")
        sim.ivfpq_merge_index(
            spark, path, delta, vec_col="embedding", id_col="vec_id"
        )
        a1 = audit(path)
        sim.ivfpq_write_index(  # retrain = full rebuild, fresh model
            corpus, path, vec_col="embedding", id_col="vec_id"
        )
        a2 = audit(path)
        probe = sim.ivfpq_probe_index(
            spark, path, queries_df, corpus,
            vec_col="embedding", id_col="vec_id",
            k=5, n_probe=8, n_rerank=max(96, n_corpus // 8),
        ).localCheckpoint(eager=True)
        exact = sim.cosine_topk(
            queries_df, corpus, vec_col="embedding", id_col="vec_id", k=5
        )
        n_queries = queries_df.count()
        total_hits = probe.join(
            exact, ["query_id", "neighbor_id"], "left_semi"
        ).count()
        recall_mean_ok = 10 * total_hits >= 6 * 5 * n_queries
        # all-integer drift comparisons (n_vectors identical across the
        # two audits, so they cancel out of the ratio inequality)
        s1m, s1b = a1["merged"].sum_qerr_micro, a1["base"].sum_qerr_micro
        s2m, s2b = a2["merged"].sum_qerr_micro, a2["base"].sum_qerr_micro
        drift_improved = s2m * s1b < s1m * s2b
        retrained_ok = (
            4 * s2m * a2["base"].n_vectors
            <= 5 * s2b * a2["merged"].n_vectors
        )
        out = (
            probe.groupBy("query_id")
            .agg(F.count("*").alias("n_results"))
            .select(
                "query_id",
                "n_results",
                F.lit(drift_improved).alias("drift_improved_ok"),
                F.lit(retrained_ok).alias("retrained_drift_ok"),
                F.lit(recall_mean_ok).alias("recall_mean_ok"),
            )
            .localCheckpoint(eager=True)  # pin before the scratch dir dies
        )
        probe.unpersist()
        dd.register_pinned(out)
    return out


@query(
    "ann_index_autoretrain_stream",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_batches,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings
            WHERE vec_id % 4 IN (0, 1)) AS total_added,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
           + (SELECT CAST(count(*) AS BIGINT) FROM embeddings
              WHERE vec_id % 4 IN (0, 1)) AS n_indexed,
           TRUE AS no_spurious_fire_ok,
           TRUE AS drift_fired_ok,
           TRUE AS retrain_effective_ok,
           TRUE AS membership_preserved_ok,
           TRUE AS index_complete_ok
    """,
)
def ann_index_autoretrain_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift audit wired into the streaming maintainer — the
    retrain-cadence loop running HANDS-FREE (r9 verdict item 3;
    streaming/events.py::run_ivfpq_merge_stream,
    ``auto_retrain_drift_ratio``): the real Structured Streaming
    maintainer ingests two micro-batches into a persisted IVF-PQ
    index, auditing each JUST-MERGED batch (scope="corpus" — one
    narrow index scan + batch-sized decode, the per-batch price a
    stream can pay) against the arm-time full-index baseline, firing a
    membership-preserving in-place RETRAIN when the batch's mean
    reconstruction error crosses 1.5× baseline (exact integer
    cross-multiplication, like every drift comparison here).

    The two batches pin both sides of the trigger:

    - batch 1 — IN-distribution rows (member vectors under fresh ids —
      they encode identically to members, so the batch mean ≈ baseline
      by construction at every SF) — must audit and NOT fire;
    - batch 2 — OUT-of-distribution rows (near-axis unit vectors the
      trained codebooks never saw; measured batch/baseline ratio
      2.0-4.0× across sf0.001/0.01/0.1 vs ≈1.0 for batch 1) — must
      fire and retrain.

    Batch order is deterministic by construction: two availableNow
    maintainer runs share one checkpoint (a restarted maintainer
    re-arms its baseline from the PERSISTED artifacts), so delivery
    never ties on file modification time.

    Hash-gated contract (one summary row):

    - ``n_batches`` / ``total_added`` / ``n_indexed`` — exactly-once
      stream accounting, post-retrain completeness included;
    - ``no_spurious_fire_ok``   — batch 1 audited, no fire;
    - ``drift_fired_ok``        — batch 2 fired AND retrained;
    - ``retrain_effective_ok``  — post-retrain, the OOD batch's mean
      error ≤ the post-retrain full-index mean (measured ~0.01-0.02×:
      the fresh model covers the new distribution) — the audit signal
      was ACTED ON and the action worked;
    - ``membership_preserved_ok`` — the rebuild re-indexed exactly the
      rows the index held (semi-join of the corpus of record on live
      ids);
    - ``index_complete_ok``     — every id indexed exactly once after
      merge + retrain.

    Scale story: the trigger CHECK per batch is one narrow scan +
    batch-sized Arrow decode (never a corpus join — measured 1.005×
    signal when diluted corpus-wide vs 2-4× batch-scoped on the same
    injected drift); the retrain is the priced-in expensive verb the
    measured trigger exists to schedule. Fixed multi-action overhead
    bench shape, like the other lifecycle queries."""
    from ..streaming.events import run_ivfpq_merge_stream

    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    corpus0 = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = 64  # fixture embedding width (TESTDATA.md)
    OFF1, OFF2 = 1_000_000_000, 2_000_000_000
    copies = corpus0.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + OFF1).alias("vec_id"), "embedding"
    )
    ood = corpus0.filter(F.col("vec_id") % 4 == 1).select(
        (F.col("vec_id") + OFF2).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.when(d == F.col("vec_id") % dim, F.lit(100.0))
            .otherwise(((F.col("vec_id") + d) % 7).cast("double") * 0.01),
        ).alias("embedding"),
    )
    retrain_corpus = corpus0.unionByName(copies).unionByName(ood)
    n_corpus = fixture_rows(sf_dir, "embeddings")
    n_copies = copies.count()
    n_ood = ood.count()

    with _scratch_index("spark_graft_ivfpq_ar_") as path:
        sim.ivfpq_write_index(
            corpus0, path, vec_col="embedding", id_col="vec_id",
            n_cells=16, m=8, n_codes=128, train_rows=512,
        )
        landing = f"{path}_landing"

        def run_one(batch_df):
            batch_df.coalesce(1).write.parquet(landing, mode="append")
            stream = (
                spark.readStream.schema(batch_df.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(landing)
            )
            return run_ivfpq_merge_stream(
                stream, path, checkpoint=f"{path}_ckpt",
                vec_col="embedding", id_col="vec_id",
                auto_retrain_drift_ratio=1.5,
                retrain_corpus=retrain_corpus,
                retrain_train_rows=512,
            )

        stats = run_one(copies) + run_one(ood)

        def audit(corpus, scope):
            rows = {
                r.segment: r
                for r in sim.ivfpq_drift_audit(
                    spark, path, corpus,
                    vec_col="embedding", id_col="vec_id", scope=scope,
                ).collect()  # ≤ 2 rows — bounded model-state class
            }
            return rows["all"]
        post_full = audit(retrain_corpus, "index")
        post_ood = audit(ood, "corpus")
        final = scan(spark, f"{path}/codes", schema=sim.CODES_SCHEMA).agg(
            F.count("*").alias("_n"),
            F.countDistinct("neighbor_id").alias("_nd"),
        ).first()
    n_total = n_corpus + n_copies + n_ood
    return spark.createDataFrame(
        [(
            len(stats),
            sum(s["n_added"] for s in stats),
            final._n,
            stats[0]["audit_checked"]
            and not stats[0]["drift_fired"]
            and not stats[0]["retrained"],
            stats[1]["drift_fired"] and stats[1]["retrained"],
            # post-retrain OOD mean <= post-retrain index mean, exact
            # integer cross-multiplication (measured ~0.01-0.02x)
            post_ood.sum_qerr_micro * post_full.n_vectors
            <= post_full.sum_qerr_micro * post_ood.n_vectors,
            stats[1].get("n_retrain_members") == n_total,
            final._n == final._nd == n_total,
        )],
        "n_batches long, total_added long, n_indexed long, "
        "no_spurious_fire_ok boolean, drift_fired_ok boolean, "
        "retrain_effective_ok boolean, membership_preserved_ok boolean, "
        "index_complete_ok boolean",
    )


_ANN_RERANK_ORACLE = """
SELECT vec_id AS query_id,
       CAST(5 AS BIGINT) AS n_results,
       TRUE AS subset_ok,
       TRUE AS order_ok,
       TRUE AS agree_ok,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


@query("ann_rerank_topk", oracle=_ANN_RERANK_ORACLE)
def ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank, the production two-stage architecture the
    ANN family feeds: a recall-oriented first stage proposes 32
    candidates per query, then the cross-encoder-style pairwise scorer
    (operators/similarity.py::crossencoder_rerank_topk — Arrow-batched,
    deterministic softsign model) keeps the top 5.

    The candidate stage HERE is the exact cosine top-32 so the
    contract isolates the RERANKER: with exact candidates, any recall
    shortfall is the reranker's own. (In production the first stage is
    ivfpq_cosine_topk — the operator takes any (query_id, neighbor_id)
    frame — and its cosine recall is contracted separately by
    ann_ivfpq_topk; measured with the IVF16/probe-4 stage the
    end-to-end worst-query cross-model recall drops to 0.4, exactly
    the first-stage gap, never the reranker's.)

    Self-auditing contract row per query vector, all hash-gated:

    - ``subset_ok``  — every reranked result came from the candidate
      list (the reranker may reorder, never invent);
    - ``order_ok``   — ce_score is non-increasing in rank;
    - ``agree_ok``   — the Arrow scorer and the pure-JVM expression
      (``crossencoder_score_expr``) agree on every surviving pair
      EXACTLY (both are sequential IEEE-754 softsign folds — no
      rounding slack needed, see the operator docstring);
    - ``recall_ok``  — ≥ 3 of the reranker's top-5 appear in the
      brute-force top-5 under the SAME pairwise model over the whole
      corpus (bound 0.6; measured worst-query 0.8 at sf0.001, sf0.01
      AND sf0.1 — deterministic, so it holds exactly).

    The exact comparator is contract overhead (|Q|·|corpus| pairs),
    not part of the production plan — the deployed path is candidates
    → equi-join true vectors → Arrow rerank, whose cost is
    |Q|·32 pairs regardless of corpus size."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    queries_df = embeddings.filter(F.col("vec_id") < 10)
    cand = sim.cosine_topk(
        queries_df, embeddings, vec_col="embedding", id_col="vec_id", k=32
    )
    # materialize the reranked top-5 ONCE: three contract legs (jvm
    # agreement, candidate subset, recall hits) fan out from `rer`,
    # and without this the Arrow rerank + its window recompute per leg
    rer = dd.register_pinned(  # returned frame references rer lazily
        sim.crossencoder_rerank_topk(
            cand, queries_df, embeddings,
            vec_col="embedding", id_col="vec_id", k=5, dim=64,
        ).localCheckpoint(eager=True)
    )

    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qv = queries_df.select(
        F.col("vec_id").alias("query_id"), dv.alias("_qv")
    )
    cv = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), dv.alias("_cv")
    )

    from pyspark.sql import Window

    # independent JVM re-score of the surviving pairs (agreement leg),
    # plus the per-row ordering flag (window first, aggregate after)
    jvm = (
        rer.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "_jvm",
            F.round(
                sim.crossencoder_score_expr(
                    F.col("_qv"), F.col("_cv"), dim=64
                ),
                6,
            ),
        )
        .withColumn(
            "_ord_row",
            (
                F.col("ce_score")
                >= F.lead("ce_score", 1, -1e9).over(
                    Window.partitionBy("query_id").orderBy("rank")
                )
            ).cast("int"),
        )
    )

    # brute-force top-5 under the rerank model (recall leg; self
    # excluded to mirror the candidate stage)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_ce").desc(), F.col("neighbor_id")
    )
    exact = (
        cv.crossJoin(F.broadcast(qv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "_ce",
            sim.crossencoder_score_expr(F.col("_qv"), F.col("_cv"), dim=64),
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 5)
        .select("query_id", "neighbor_id")
    )
    hits = (
        rer.join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("_hits"))
    )
    subset = (
        rer.join(
            cand.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("_in_cand"))
    )
    per_q = jvm.groupBy("query_id").agg(
        F.count("*").alias("n_results"),
        F.min(
            (F.col("ce_score") == F.col("_jvm")).cast("int")
        ).alias("_agree"),
        F.min("_ord_row").alias("_ord"),
    )
    return (
        per_q.join(hits, "query_id", "left")
        .join(subset, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            (F.coalesce("_in_cand", F.lit(0)) == F.col("n_results")).alias(
                "subset_ok"
            ),
            (F.col("_ord") == 1).alias("order_ok"),
            (F.col("_agree") == 1).alias("agree_ok"),
            (F.coalesce("_hits", F.lit(0)) >= F.lit(0.6) * 5).alias(
                "recall_ok"
            ),
        )
    )


@query(
    "pca_embedding_variance",
    oracle="""
    SELECT CAST(r.i AS INT) AS component,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_points,
           TRUE AS ratio_positive_ok,
           TRUE AS nonincreasing_ok,
           TRUE AS cum_le_one_ok,
           TRUE AS var_matches_ok,
           TRUE AS orthonormal_ok
    FROM range(1, 9) r(i)
    ORDER BY component
    """,
)
def pca_embedding_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib PCA(k=8) over the 64-dim embedding corpus with a
    variance-accounting contract (operators/decomposition.py::
    pca_fit_project). One row per principal component, all hash-gated:

    - ``ratio_positive_ok``  — 0 < explained-variance ratio ≤ 1;
    - ``nonincreasing_ok``   — ratios sorted non-increasing (the
      eigenvalue order);
    - ``cum_le_one_ok``      — cumulative ratio through this component
      ≤ 1 (+1e-9 float slack);
    - ``var_matches_ok``     — THE CROSS-CHECK: the sample variance of
      this component's projected coordinate, computed by a plain
      DataFrame ``var_samp`` aggregate over the transformed corpus,
      equals ratio_i × Σ_d var_samp(x_d) within 1e-6 relative — the
      MLlib eigensolver and the SQL aggregation engine are two
      independent computations of the same spectrum (var is
      shift-invariant, so the uncentered projection doesn't matter);
    - ``orthonormal_ok``     — max |PCᵀPC − I| < 1e-8 on the loading
      matrix (driver-side audit of the model itself).

    Plan: one treeAggregate fit pass (O(n·d²) distributed, d=64 →
    4 KB combiner states), one narrow JVM transform, then TWO 1-row
    aggregates (the k projected variances; the 64 input variances +
    count) crossJoined and exploded to k component rows — no shuffle
    larger than a single row. At 100 TB the fit pass is the only
    corpus-sized cost and it is embarrassingly parallel."""
    from ..operators.decomposition import pca_fit_project

    k = 8
    dim = 64
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    proj, info = pca_fit_project(
        embeddings, vec_col="embedding", id_col="vec_id", k=k
    )
    ev = info["explained_variance"]

    pv = proj.agg(
        *[
            F.var_samp(F.col("components")[i]).alias(f"_v{i}")
            for i in range(k)
        ]
    )
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    tot = embeddings.select(x.alias("_x")).agg(
        F.count("*").alias("n_points"),
        sum(
            [F.var_samp(F.col("_x")[d]) for d in range(1, dim)],
            F.var_samp(F.col("_x")[0]),
        ).alias("_total_var"),
    )

    comps = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("component"),
                F.col(f"_v{i}").alias("_pvar"),
                F.lit(float(ev[i])).alias("_evr"),
                F.lit(
                    bool(i == 0 or ev[i] <= ev[i - 1] + 1e-12)
                ).alias("nonincreasing_ok"),
                F.lit(bool(sum(ev[: i + 1]) <= 1.0 + 1e-9)).alias(
                    "cum_le_one_ok"
                ),
            )
            for i in range(k)
        ]
    )
    return (
        pv.crossJoin(tot)
        .select("n_points", "_total_var", F.explode(comps).alias("c"))
        .select(
            F.col("c.component").alias("component"),
            "n_points",
            ((F.col("c._evr") > 0) & (F.col("c._evr") <= 1)).alias(
                "ratio_positive_ok"
            ),
            F.col("c.nonincreasing_ok"),
            F.col("c.cum_le_one_ok"),
            (
                F.abs(
                    F.col("c._pvar")
                    / (F.col("c._evr") * F.col("_total_var"))
                    - 1
                )
                < 1e-6
            ).alias("var_matches_ok"),
            F.lit(
                bool(info["orthonormal_max_abs_err"] < 1e-8)
            ).alias("orthonormal_ok"),
        )
        .orderBy("component")
    )


# --------------------------------------------------------------------------
# Skew mitigation (operators/skew.py) — salted plans must equal the
# plain-join / plain-agg oracle exactly; salt is partitioning-only.
# --------------------------------------------------------------------------


@query(
    "skew_salted_join_agg",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n,
           round(sum(l.l_quantity), 2) AS qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def skew_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join through the salted-join path (8 salt buckets:
    hot orderkeys fan out over 8 shuffle partitions; the orders side is
    replicated per salt). Result must be bit-identical to the plain
    join — the oracle proves the salt never leaks into semantics."""
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    l = lineitem.select(F.col("l_orderkey").alias("orderkey"), "l_quantity")
    o = orders.select(F.col("o_orderkey").alias("orderkey"), "o_orderpriority")
    joined = sk.salted_join(l, o, ["orderkey"], buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_l_quantity,
           round(sum(l_extendedprice), 2) AS sum_l_extendedprice
    FROM lineitem
    GROUP BY 1
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the 3-value l_returnflag key —
    the worst-case hot-group shape (each group is ~1/3 of the table).
    Stage 1 spreads each group over 16 (key, salt) partials; stage 2
    merges. Equal to the one-stage oracle by construction."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    out = sk.salted_sum_count(
        lineitem.select("l_returnflag", "l_quantity", "l_extendedprice"),
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice"],
        buckets=16,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.round("sum_l_quantity", 2).alias("sum_l_quantity"),
        F.round("sum_l_extendedprice", 2).alias("sum_l_extendedprice"),
    )


# --------------------------------------------------------------------------
# Multimodal plumbing (decode stubbed; Spark-side plumbing real)
# --------------------------------------------------------------------------


@query(
    "multimodal_decode_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             8 + doc_id % 9 AS w,
             8 + doc_id % 7 AS h
      FROM documents
    ),
    px AS (
      SELECT media_id, h, w,
             (media_id*31 + unnest(range(h*w*3))) % 256 AS v
      FROM m
    )
    SELECT media_id,
           CAST(h AS INTEGER) AS height,
           CAST(w AS INTEGER) AS width,
           round(avg(v/255.0), 6) AS mean_px
    FROM px GROUP BY media_id, h, w
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media pipeline with a REAL decode: a deterministic 24-bit
    BMP payload is synthesized per document id (genuine encoded bytes,
    Arrow-batched), then decode_image parses headers, unpads rows, and
    undoes bottom-up/BGR — strict mode, no fake fallback. The oracle
    predicts (height, width, mean_px) from the generative formula, so
    the gate hash-verifies decode(encode(x)) == x over 500 images.
    Feature extraction over the same payloads stays pytest-covered
    (sha-derived vectors have no SQL form)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    media = mm.attach_media_metadata(
        mm.synthesize_bmp_media(documents.select(F.col("doc_id").alias("media_id"))),
        kind="image",
        mime="image/bmp",
    )
    decoded = mm.decode_image(media, strict=True)
    return decoded.select(
        "media_id",
        "height",
        "width",
        F.round("mean_px", 6).alias("mean_px"),
    )


@query(
    "audio_decode_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 800 + (doc_id % 5) * 160 AS n
      FROM documents
    ),
    v AS (
      SELECT media_id, n, i,
             (media_id*37 + i*17) % 4001 - 2000 AS smp
      FROM (SELECT media_id, n, unnest(range(n)) AS i FROM m)
    ),
    l AS (
      SELECT media_id, n, smp,
             lag(smp) OVER (PARTITION BY media_id ORDER BY i) AS prev
      FROM v
    )
    SELECT media_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(any_value(n) AS BIGINT) AS n_samples,
           CAST(any_value(n) // 8 AS BIGINT) AS duration_ms,
           round(sqrt(avg(CAST(smp AS DOUBLE) * smp)), 6) AS rms,
           CAST(sum(CASE WHEN prev IS NOT NULL
                          AND ((smp < 0) != (prev < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM l GROUP BY media_id
    """,
)
def audio_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary AUDIO pipeline with a REAL decode — the WAV twin of
    multimodal_decode_features: a deterministic PCM mono 16-bit WAV
    payload is synthesized per document id (genuine RIFF bytes), then
    decode_audio walks the chunk list, validates the fmt contract and
    computes signal features (RMS energy, zero-crossing rate inputs,
    duration) in the Arrow batch loop — strict mode, no fake fallback.
    The oracle predicts every feature from the generative sawtooth
    formula, so the gate hash-verifies decode(encode(x)) == x over 500
    clips; the squared-sample sums stay below 2^53, making the RMS
    bit-identical cross-engine before its 6dp rounding."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    media = mm.attach_media_metadata(
        mm.synthesize_wav_media(documents.select(F.col("doc_id").alias("media_id"))),
        kind="audio",
        mime="audio/wav",
    )
    decoded = mm.decode_audio(media, strict=True)
    return decoded.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "duration_ms",
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
    )


@query(
    "video_frame_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             8 + doc_id % 5 AS w,
             8 + doc_id % 3 AS h,
             4 + doc_id % 5 AS nf
      FROM documents
    ),
    f AS (
      SELECT media_id, w, h, unnest(range(0, nf, 2)) AS frame_idx
      FROM m
    ),
    px AS (
      SELECT media_id, w, h, frame_idx,
             (media_id*31 + frame_idx*7 + unnest(range(h*w*3))) % 256 AS v
      FROM f
    )
    SELECT media_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(h AS INTEGER) AS height,
           CAST(w AS INTEGER) AS width,
           round(avg(v/255.0), 6) AS mean_px
    FROM px GROUP BY media_id, frame_idx, h, w
    """,
)
def video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary VIDEO pipeline with a REAL frame grab — the third
    modality beside multimodal_decode_features (image) and
    audio_decode_features: a deterministic uncompressed-DIB AVI is
    synthesized per document id (genuine RIFF/LIST/hdrl/movi bytes),
    then decode_video_frames walks the container, samples every 2nd
    frame and decodes it through the DIB pixel path (unpad, bottom-up,
    BGR) — strict mode, no fake fallback. The oracle predicts every
    sampled frame's (height, width, mean_px) from the generative
    formula, hash-verifying frame-sample(decode(encode(x))) == x over
    500 clips; skipped frames are never pixel-touched, which is the
    frame-sampling contract at 100 TB."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    media = mm.attach_media_metadata(
        mm.synthesize_avi_media(documents.select(F.col("doc_id").alias("media_id"))),
        kind="video",
        mime="video/x-msvideo",
    )
    decoded = mm.decode_video_frames(media, every_n=2, strict=True)
    return decoded.select(
        "media_id",
        "frame_idx",
        "height",
        "width",
        F.round("mean_px", 6).alias("mean_px"),
    )


# --------------------------------------------------------------------------
# Deterministic sampling
# --------------------------------------------------------------------------


@query(
    "stratified_sample_langs",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 10000
          < CASE lang WHEN 'en' THEN 5000
                      WHEN 'de' THEN 2500
                      ELSE 1000 END
    """,
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (en 50%, de 25%, rest
    10%) via salted-md5 hash buckets — partition- and retry-stable, a
    narrow filter with no RNG. The oracle reproduces the exact sample
    because the hash is plain md5, not an engine-private RNG."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return sp.stratified_hash_sample(
        documents,
        "doc_id",
        "lang",
        {"en": 0.5, "de": 0.25},
        default_fraction=0.1,
        salt="s1",
    ).select("doc_id", "lang")


@query(
    "train_val_test_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 10000 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by salted md5
    bucket — membership is a pure function of the id, so the split is
    identical across reruns, partitionings, and engines (no RNG), and a
    document can never leak between splits when the corpus regrows.
    Narrow filter-free projection: zero shuffles."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    b = sp.hash_bucket("doc_id", "split")
    return documents.select(
        "doc_id",
        "lang",
        F.when(b < 9000, F.lit("train"))
        .when(b < 9500, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@query(
    "mixture_weighted_sample_sources",
    oracle="""
    WITH n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
    t AS (SELECT CAST(sum(n_s) AS BIGINT) AS N FROM n),
    thr AS (
      SELECT source,
             CAST(round(least(1.0,
               (CASE source WHEN 'src0' THEN 0.3
                            WHEN 'src1' THEN 0.2
                            WHEN 'src2' THEN 0.1
                            ELSE 0.02 END) * 0.4 * N / n_s) * 10000, 0)
               AS BIGINT) AS thr
      FROM n, t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 10000 < thr
    """,
)
def mixture_weighted_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data mixing: resample the corpus to 40% of its size
    with source weights src0=0.3, src1=0.2, src2=0.1, rest 0.02 —
    per-stratum keep-fraction min(1, w·target·N/n_s) solved in-plan
    (tiny count aggregate broadcast back as thresholds), membership by
    the same deterministic md5 buckets the oracle replays."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return sp.mixture_weighted_sample(
        documents,
        "doc_id",
        "source",
        {"src0": 0.3, "src1": 0.2, "src2": 0.1},
        target_fraction=0.4,
        default_weight=0.02,
        salt="mix",
    ).select("doc_id", "source")


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
      FROM documents
    ),
    t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.n + 1) / (dfreq.df_t + 1)) + 1), 6) AS score
      FROM tf CROSS JOIN n JOIN dfreq ON tf.term = dfreq.term
    ),
    ranked AS (
      SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS INT) AS rank
      FROM scored
    )
    SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed scikit-style idf),
    computed as explode → (doc,term) aggregate → vocabulary aggregate →
    idf join → per-doc top-k window. Fully oracle-checked."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(documents, "text", "doc_id", k=3)


@query(
    "embedding_kmeans_sizes",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           TRUE AS k_bounded_ok,
           TRUE AS assignment_total_ok
    FROM embeddings
    """,
)
def embedding_kmeans_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib KMeans (k=8, fixed seed) over embeddings, reported as its
    partitioning-INDEPENDENT assignment contract: every vector gets
    exactly one cluster (totals conserved) and the model uses at most
    k clusters. Cluster ids and per-cluster sizes are kmeans||-init
    partition-dependent, so only these invariants are stable — the
    gate hash-checks them instead of recording rows-only; distribution
    shape stays pytest-covered."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    assign = sim.kmeans_clusters(
        embeddings, vec_col="embedding", id_col="vec_id", k=8, seed=7
    )
    sizes = assign.groupBy("cluster").agg(F.count("*").alias("size"))
    return sizes.agg(
        F.sum("size").alias("n_points"),
        (F.countDistinct("cluster") <= 8).alias("k_bounded_ok"),
    ).join(
        assign.agg((F.count("*") == F.countDistinct("vec_id")).alias(
            "assignment_total_ok"
        )),
        how="cross",
    ).select("n_points", "k_bounded_ok", "assignment_total_ok")


@query(
    "correlation_matrix_lineitem",
    oracle="""
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, round(corr(l_quantity, l_extendedprice), 6) AS pearson_r FROM lineitem
    UNION ALL
    SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, round(corr(l_quantity, l_discount), 6) AS pearson_r FROM lineitem
    UNION ALL
    SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b, round(corr(l_quantity, l_tax), 6) AS pearson_r FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, round(corr(l_extendedprice, l_discount), 6) AS pearson_r FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b, round(corr(l_extendedprice, l_tax), 6) AS pearson_r FROM lineitem
    UNION ALL
    SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, round(corr(l_discount, l_tax), 6) AS pearson_r FROM lineitem
    """,
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem value columns in
    ONE scan — the feature-screening companion to the table profiler:
    every corr(a,b) is an aggregate expression in a single agg (6
    co-moment sums per pair, all map-side combining), the 1-row result
    exploded into the long (col_a, col_b, pearson_r) form driver-free.
    The naive formulation runs one scan per pair; this one is
    scan-count-invariant in the number of pairs, which is what makes a
    p-column correlation matrix (p² pairs) affordable at 100 TB.
    Rounded to 6 dp (summation-order convention)."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")

    one = lineitem.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("_c0"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("_c1"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("_c2"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("_c3"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("_c4"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("_c5"),
    )
    return one.select(
        F.explode(
            F.array(
                    F.struct(F.lit("l_quantity").alias("col_a"), F.lit("l_extendedprice").alias("col_b"), F.col("_c0").alias("pearson_r")),
                    F.struct(F.lit("l_quantity").alias("col_a"), F.lit("l_discount").alias("col_b"), F.col("_c1").alias("pearson_r")),
                    F.struct(F.lit("l_quantity").alias("col_a"), F.lit("l_tax").alias("col_b"), F.col("_c2").alias("pearson_r")),
                    F.struct(F.lit("l_extendedprice").alias("col_a"), F.lit("l_discount").alias("col_b"), F.col("_c3").alias("pearson_r")),
                    F.struct(F.lit("l_extendedprice").alias("col_a"), F.lit("l_tax").alias("col_b"), F.col("_c4").alias("pearson_r")),
                    F.struct(F.lit("l_discount").alias("col_a"), F.lit("l_tax").alias("col_b"), F.col("_c5").alias("pearson_r")),
            )
        ).alias("_r")
    ).select("_r.col_a", "_r.col_b", "_r.pearson_r")


_SEMDEDUP_K = 8


@query(
    "semantic_dedup_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           TRUE AS conservation_ok,
           TRUE AS k_bounded_ok,
           TRUE AS cluster_keeps_ok,
           TRUE AS no_oversized_clusters_ok
    FROM embeddings
    """,
)
def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py::semantic_dedup - cluster with
    k-means, connect within-cluster cosine>=0.3 pairs, keep one
    representative per near-dup component) reported through its
    partition-INDEPENDENT laws, the kmeans-contract pattern: every
    vector appears exactly once with a keep verdict (conservation), at
    most k clusters are used, every cluster retains at least one
    survivor (components never span clusters, so each component's
    min-id survivor lives in its own cluster), and no cluster exceeded
    the pairing guard — an oversized cluster keeps ALL its duplicates
    silently, the recall failure random init makes more likely, so it
    must be a checked law, not a log line. Which vectors survive
    is kmeans||-partition-dependent, hence laws, not rows; the
    deterministic two-tight-clusters behavior is pytest-pinned.

    k scales with the corpus (n/250 vectors per cluster, floor 8),
    exactly as the paper prescribes: the within-cluster pair join costs
    Θ(k·(n/k)²) = Θ(n²/k), so a FIXED k makes SemDeDup quadratic in
    corpus size (measured: 8 clusters of 2.5k vectors at the sf1.0
    probe = 25M cosine pairs, 100× the sf0.1 pair count for 10× data)
    while k ∝ n holds per-cluster blocks constant and the total pair
    count linear. The KMeans fit itself stays bounded — it trains on a
    deterministic hash-ordered sample of max(8192, 32·k) rows
    (operators/similarity.py::kmeans_clusters fit_sample_rows; the
    floor auto-scales with k so the sample can always yield k distinct
    centers as k grows with the corpus) with full-corpus assignment.
    The corpus count that derives k is the parquet footer's row count
    (driver metadata, no count job)."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    k = max(_SEMDEDUP_K, fixture_rows(sf_dir, "embeddings") // 250)
    out = sim.semantic_dedup(
        embeddings, vec_col="embedding", id_col="vec_id",
        k=k, threshold=0.3, seed=7,
    )
    per_cluster = out.groupBy("cluster").agg(
        F.sum(F.col("keep").cast("long")).alias("_keeps"),
        F.count("*").alias("_size"),
    )
    return (
        out.agg(
            F.count("*").alias("n_points"),
            (
                (F.count("*") == F.count_distinct("vec_id"))
                & (
                    F.sum(F.col("keep").cast("long"))
                    + F.sum((~F.col("keep")).cast("long"))
                    == F.count("*")
                )
            ).alias("conservation_ok"),
            (F.count_distinct("cluster") <= F.lit(k)).alias(
                "k_bounded_ok"
            ),
        )
        .crossJoin(
            F.broadcast(
                per_cluster.agg(
                    (F.min("_keeps") >= 1).alias("cluster_keeps_ok"),
                    (F.max("_size") <= 100_000).alias(
                        "no_oversized_clusters_ok"
                    ),
                )
            )
        )
        .select(
            "n_points",
            "conservation_ok",
            "k_bounded_ok",
            "cluster_keeps_ok",
            "no_oversized_clusters_ok",
        )
    )


@query(
    "sequence_packing_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           TRUE AS packed_once_ok,
           TRUE AS budget_ok,
           TRUE AS n_packs_lower_ok
    FROM t
    """,
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing (budget 512) over documents,
    reported as its partitioning-INDEPENDENT conservation contract:
    every doc packed exactly once, token mass conserved, every
    multi-doc pack within budget (an over-budget doc is allowed a
    singleton pack), and the pack count at least the perfect-packing
    lower bound ⌈total/512⌉. The greedy fold itself is sequential per
    partition (not SQL-expressible; per-pack layout is pinned in
    test_packing.py) — but these invariants are exactly what a DuckDB
    oracle CAN check, so the gate hash-verifies them instead of
    recording rows-only."""
    from ..operators.packing import pack_sequences

    (documents,) = load_tables(spark, sf_dir, "documents")
    docs = documents.select("doc_id", tx.token_count("text").alias("n_tokens"))
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=512)
    per_pack = packed.groupBy("pack_id").agg(
        F.count("*").alias("_pdocs"), F.sum("n_tokens").alias("_fill")
    )
    pack_stats = per_pack.agg(
        F.count("*").alias("_n_packs"),
        F.every(
            (F.col("_fill") <= 512) | (F.col("_pdocs") == 1)
        ).alias("budget_ok"),
    )
    doc_stats = packed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("_n_distinct"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return (
        doc_stats.crossJoin(pack_stats)  # two 1-row frames
        .select(
            "n_docs",
            "total_tokens",
            (F.col("_n_distinct") == F.col("n_docs")).alias("packed_once_ok"),
            "budget_ok",
            (
                F.col("_n_packs")
                >= F.ceil(F.col("total_tokens") / F.lit(512.0))
            ).alias("n_packs_lower_ok"),
        )
    )


@query(
    "text_clean_and_mask",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(text, 'https?://[^\\s]+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', ' ', 'g'),
             '\\s+', ' ', 'g')) AS cleaned,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g'),
               'https?://[^\\s]+', '[URL]', 'g'),
             '\\d{7,}', '[NUM]', 'g') AS masked
    FROM documents
    """,
)
def text_clean_and_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning (URL/e-mail strip + whitespace collapse) and PII
    masking ([EMAIL]/[URL]/[NUM]) — regexp-only, one narrow scan."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        tx.clean_text("text").alias("cleaned"),
        tx.mask_pii("text").alias("masked"),
    )


@query(
    "array_functions_report",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
           coalesce(array_to_string(list_sort(list_distinct(
             regexp_extract_all(lower(text), '[a-z]{8,}')))[1:3], ' '), '')
             AS long_words
    FROM documents
    """,
)
def array_functions_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: regexp_extract_all → array, distinct +
    sort + slice — all JVM array expressions in one narrow scan. The
    array column is joined to a string on output (both sides) because
    the driver's canonicalizer cannot sort/hash list-typed cells."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))).cast("long").alias(
            "n_numbers"
        ),
        F.coalesce(
            F.array_join(
                F.slice(
                    F.array_sort(
                        F.array_distinct(
                            F.regexp_extract_all(
                                F.lower("text"), F.lit("[a-z]{8,}"), F.lit(0)
                            )
                        )
                    ),
                    1,
                    3,
                ),
                " ",
            ),
            F.lit(""),  # NULL text: oracle coalesces to '' — match it
        ).alias("long_words"),
    )


@query(
    "dedup_survivor_selection",
    oracle="""
    WITH RECURSIVE
    keys AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k1,
             array_to_string(
               (string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                             ' '))[1:5], ' ') AS k2
      FROM documents
    ),
    e1 AS (SELECT min(doc_id) OVER (PARTITION BY k1) AS a, doc_id AS b
           FROM keys WHERE k1 IS NOT NULL),
    e2 AS (SELECT min(doc_id) OVER (PARTITION BY k2) AS a, doc_id AS b
           FROM keys WHERE k2 IS NOT NULL),
    star AS (
      SELECT a, b FROM e1 WHERE a <> b
      UNION
      SELECT a, b FROM e2 WHERE a <> b
    ),
    edges AS (SELECT a, b FROM star UNION SELECT b AS a, a AS b FROM star),
    walk(id, comp) AS (
      SELECT DISTINCT a AS id, a AS comp FROM edges
      UNION
      SELECT e.b AS id, w.comp FROM walk w JOIN edges e ON e.a = w.id
    ),
    cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
    f AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS BIGINT)
               AS n_punct,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             floor((0.4 * least(n_tokens / 64.0, 1.0)
                 + 0.3 * (1.0 - least(round(n_punct / n_chars, 6) * 10, 1.0))
                 + 0.3 * (1.0 - least(round(n_digit / n_chars, 6) * 10, 1.0)))
                 * 10000 + 0.5) / 10000.0
               AS quality
      FROM f
    ),
    labeled AS (
      SELECT q.doc_id,
             CAST(coalesce(cc.comp, q.doc_id) AS BIGINT) AS component,
             q.quality
      FROM q LEFT JOIN cc ON cc.id = q.doc_id
    ),
    ranked AS (
      SELECT doc_id, component, quality,
             row_number() OVER (PARTITION BY component
                                ORDER BY quality DESC, doc_id) AS rn
      FROM labeled
    )
    SELECT doc_id, component, quality, rn = 1 AS keep FROM ranked
    """,
)
def dedup_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection — the step after duplicate clustering:
    every document labeled with its duplicate component (its own id
    when unclustered) and a ``keep`` flag marking the cluster survivor,
    chosen as highest quality score with a deterministic doc_id
    tiebreak. One window shuffle on the component key on top of the
    connected-components labels; the oracle replays the full chain
    (recursive-CTE components + quality replica + ranked selection)."""
    from pyspark.sql import Window

    (documents,) = load_tables(spark, sf_dir, "documents")
    norm = tx.normalize_text(F.col("text"))
    edges = dd.blocking_edges(
        documents,
        "doc_id",
        F.md5(norm.cast("binary")),
        F.array_join(F.slice(F.split(norm, " "), 1, 5), " "),
    )
    cc = dd.connected_components(edges)
    full = (
        documents.select("doc_id", tx.quality_score("text").alias("quality"))
        .join(cc, documents.doc_id == cc.id, "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("component"),
            "quality",
        )
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        full.withColumn("_rn", F.row_number().over(w))
        .select("doc_id", "component", "quality", (F.col("_rn") == 1).alias("keep"))
    )


@query(
    "quality_percentile_prune",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS BIGINT)
               AS n_punct,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             floor((0.4 * least(n_tokens / 64.0, 1.0)
                 + 0.3 * (1.0 - least(round(n_punct / n_chars, 6) * 10, 1.0))
                 + 0.3 * (1.0 - least(round(n_digit / n_chars, 6) * 10, 1.0)))
                 * 10000 + 0.5) / 10000.0
               AS quality
      FROM f
    ),
    r AS (
      SELECT doc_id, lang, quality,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY quality DESC, doc_id) AS pr
      FROM q
    )
    SELECT doc_id, lang, quality FROM r WHERE pr <= 0.8
    """,
)
def quality_percentile_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality pruning: keep the top 80% of documents PER
    LANGUAGE by composite quality score (percent_rank window with a
    deterministic doc_id tiebreak) — the curation step that applies a
    per-stratum budget instead of one absolute threshold, so
    low-resource languages aren't wiped out by a global cut. One
    shuffle on the stratum key."""
    from pyspark.sql import Window

    (documents,) = load_tables(spark, sf_dir, "documents")
    q = documents.select(
        "doc_id", "lang", tx.quality_score("text").alias("quality")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        q.withColumn("_pr", F.percent_rank().over(w))
        .filter(F.col("_pr") <= 0.8)
        .select("doc_id", "lang", "quality")
    )


@query(
    "document_chunks",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    )
    SELECT doc_id,
           CAST(i // 16 AS BIGINT) AS chunk_idx,
           CAST(least(32, len(t) - i) AS BIGINT) AS n_chunk_tokens,
           array_to_string(t[i+1 : i+32], ' ') AS chunk_text
    FROM toks, unnest(range(0, greatest(len(t), 1), 16)) AS u(i)
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (32-token windows, stride 16) via
    operators/text.py::chunk_token_windows — one explode of start
    offsets over a narrow scan, zero shuffles; the standard
    pretraining/RAG segmentation step."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return tx.chunk_token_windows(
        documents, "text", "doc_id", chunk_size=32, stride=16
    )


@query(
    "gopher_repetition_signals",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    base AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             CASE WHEN len(t) >= 2
                  THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
                  ELSE CAST([] AS VARCHAR[]) END AS bg
      FROM toks
    ),
    bgc AS (
      SELECT doc_id, max(cnt) AS topn FROM (
        SELECT doc_id, b, count(*) AS cnt
        FROM (SELECT doc_id, unnest(bg) AS b FROM base) GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT b.doc_id,
           b.n_tokens,
           round((b.n_tokens - b.n_distinct) / b.n_tokens, 6) AS dup_token_share,
           CAST(len(b.bg) AS BIGINT) AS n_bigrams,
           round(c.topn / len(b.bg), 6) AS top_bigram_share,
           (coalesce(round((b.n_tokens - b.n_distinct) / b.n_tokens, 6) > 0.6, FALSE)
            OR coalesce(round(c.topn / len(b.bg), 6) > 0.08, FALSE)) AS flagged
    FROM base b LEFT JOIN bgc c USING (doc_id)
    """,
)
def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document
    (operators/text.py::repetition_signals): duplicate-token share and
    top-bigram share, plus the filter flag at Gopher-adapted thresholds
    (dup > 0.6 or top-bigram > 0.08). Pure per-row expressions — the
    whole operator is a narrow scan with zero shuffles."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    sig = tx.repetition_signals("text")
    dup, top = sig["dup_token_share"], sig["top_bigram_share"]
    return documents.select(
        "doc_id",
        sig["n_tokens"].alias("n_tokens"),
        dup.alias("dup_token_share"),
        sig["n_bigrams"].alias("n_bigrams"),
        top.alias("top_bigram_share"),
        (F.coalesce(dup > 0.6, F.lit(False))
         | F.coalesce(top > 0.08, F.lit(False))).alias("flagged"),
    )


@query(
    "benchmark_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) >= 5
                    THEN [array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]
                    ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks
    ),
    sh AS (SELECT doc_id, unnest(g) AS s FROM grams),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_shingles
      FROM sh JOIN ev USING (s)
      WHERE doc_id % 50 <> 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(h.shared_shingles, 0) AS BIGINT) AS shared_shingles,
           coalesce(h.shared_shingles, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 50 <> 0
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram-overlap decontamination screen: docs with doc_id % 50 = 0
    stand in for the held-out benchmark split; every other doc reports
    how many distinct shingles it shares with that split
    (operators/dedup.py::contamination_screen — eval shingles broadcast,
    training side never shuffles on the shingle)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return dd.contamination_screen(
        documents, "text", "doc_id", F.col("doc_id") % 50 == 0, n=5
    )


@query(
    "template_doc_flags",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE trim(coalesce(text, '')) <> ''
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) >= 5
                    THEN [array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]
                    ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks
    ),
    sh AS (SELECT doc_id, unnest(g) AS s FROM grams),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    hot AS (
      SELECT s FROM sh GROUP BY s
      HAVING count(*) >= (SELECT greatest(5, CAST(ceil(0.01 * n_docs) AS BIGINT))
                          FROM nd)
    ),
    hc AS (SELECT sh.doc_id, count(*) AS hot FROM sh JOIN hot USING (s) GROUP BY 1),
    sz AS (SELECT doc_id, len(g) AS n_shingles FROM grams)
    SELECT d.doc_id,
           CAST(coalesce(sz.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(hc.hot, 0) AS BIGINT) AS hot_shingles,
           CASE WHEN coalesce(sz.n_shingles, 0) > 0
                THEN round(coalesce(hc.hot, 0) / sz.n_shingles, 6)
                ELSE 0.0 END AS hot_ratio,
           (CASE WHEN coalesce(sz.n_shingles, 0) > 0
                 THEN round(coalesce(hc.hot, 0) / sz.n_shingles, 6)
                 ELSE 0.0 END) >= 0.5 AS is_template
    FROM documents d
    LEFT JOIN sz ON sz.doc_id = d.doc_id
    LEFT JOIN hc ON hc.doc_id = d.doc_id
    """,
)
def template_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-document detection: a doc most of whose distinct
    5-gram shingles are *hot* (shared by >=max(5, 1% of docs) other
    docs) is boilerplate the pairwise near-dup operators can't see
    (operators/dedup.py::template_doc_flags — three keyed shuffles,
    linear in corpus shingles, no pair join)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return dd.template_doc_flags(
        documents, "text", "doc_id",
        n=5, hot_frac=0.01, hot_min_docs=5, template_ratio=0.5,
    )


@query(
    "embedding_quantize_error",
    oracle="""
    WITH per AS (
      SELECT label,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             embedding
      FROM embeddings
    ),
    err AS (
      SELECT label,
             CASE WHEN scale = 0 THEN 0.0 ELSE
               round(sqrt(list_sum(list_transform(embedding, x ->
                 power(CAST(x AS DOUBLE)
                       - least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5),
                                        -127.0), 127.0) * scale, 2)))
                 / len(embedding)), 6)
             END AS rmse
      FROM per
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(rmse), 6) AS avg_rmse,
           max(rmse) AS max_rmse
    FROM err
    GROUP BY label
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization loss per label
    (operators/similarity.py::quantize_int8_stats): per-vector max-abs
    scale, explicit floor(+0.5) rounding so both engines quantize
    bit-identically, rmse folded left-to-right in list order in BOTH
    engines (same IEEE addition order -> identical doubles pre-round)."""
    (embeddings,) = load_tables(spark, sf_dir, "embeddings")
    out = sim.quantize_int8_stats(
        embeddings, vec_col="embedding", id_col="vec_id", group_col="label"
    )
    return out.select(
        F.col("grp").alias("label"),
        "n_vecs",
        F.round("avg_rmse", 6).alias("avg_rmse"),
        "max_rmse",
    )


@query(
    "unigram_logprob_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
               '\\s+')) AS term
      FROM documents
    ),
    t2 AS (SELECT * FROM toks WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
    counts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
    logp AS (SELECT term, ln(c / n) AS lp FROM counts, total)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * lp) / sum(tf), 6) AS avg_logprob
    FROM tf JOIN logp USING (term)
    GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability of each doc under the corpus's own
    unigram model (operators/text.py::unigram_logprob_score) — the
    CCNet-style LM quality signal: one explode, one vocab hash agg,
    term equi-join back, per-doc re-agg."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return tx.unigram_logprob_score(documents, "text", "doc_id")


@query(
    "bigram_pmi_collocations",
    oracle=r"""
    WITH norm AS (
      SELECT list_filter(
               string_split_regex(
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'),
               x -> x <> '') AS t
      FROM documents
    ),
    uni AS (SELECT unnest(t) AS term FROM norm),
    uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY term),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
    bi AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM norm, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2
    ),
    bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
      FROM bi GROUP BY 1, 2 HAVING count(*) >= 10
    )
    SELECT bc.w1, bc.w2, bc.pair_count,
           round(ln((bc.pair_count::DOUBLE * tot.n)
                    / (c1.c::DOUBLE * c2.c)), 6) AS pmi
    FROM bc
    JOIN uc c1 ON c1.term = bc.w1
    JOIN uc c2 ON c2.term = bc.w2, tot
    """,
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram collocations by pointwise mutual information
    (operators/text.py::bigram_pmi, Church-Hanks) — the
    phrase-induction / boilerplate-phrase signal. Bigrams come from an
    index-zip over each doc's token array (narrow projection +
    explode, never a positional self-join of the token stream); one
    map-side-combining agg per frame; PMI computed in double (long
    products would overflow at corpus scale) and rounded to 6 dp."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return tx.bigram_pmi(documents, "text", min_count=10)


@query(
    "bigram_logprob_score",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id,
             list_filter(
               string_split_regex(
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'),
               x -> x <> '') AS t
      FROM documents
    ),
    uni AS (SELECT unnest(t) AS term FROM norm),
    uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY term),
    voc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
    bi AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM norm, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2
    ),
    doc_bi AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
      FROM bi GROUP BY 1, 2, 3
    ),
    bc AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12
           FROM doc_bi GROUP BY 1, 2),
    logp AS (
      SELECT bc.w1, bc.w2,
             ln((bc.c12::DOUBLE + 0.5) / (uc.c::DOUBLE + 0.5 * voc.v)) AS lp
      FROM bc JOIN uc ON uc.term = bc.w1, voc
    ),
    scored AS (
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_bigrams,
             sum(tf * lp) / sum(tf) AS avg0
      FROM doc_bi JOIN logp USING (w1, w2)
      GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           round(avg0, 6) AS avg_logprob,
           round(exp(-avg0), 4) AS perplexity
    FROM scored
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram log-probability + perplexity under the
    corpus's own add-0.5-smoothed bigram model
    (operators/text.py::bigram_logprob_score) — the conditional-
    probability quality signal that catches plausible-tokens-in-
    implausible-order text the unigram score misses. Index-zip
    bigrams, distinct-pair model join, one corpus scan."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return tx.bigram_logprob_score(documents, "text", "doc_id", k=0.5)


@query(
    "readability_report",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+'),
               x -> x <> '')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS vg
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences,
           CAST(greatest(n_words, vg) AS BIGINT) AS syllables_est,
           CASE WHEN n_words > 0 THEN
             round(206.835
                   - 1.015 * (n_words::DOUBLE / n_sentences)
                   - 84.6 * (greatest(n_words, vg)::DOUBLE / n_words), 4)
           END AS flesch
    FROM f
    """,
)
def readability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from dependency-free
    heuristics: words = the engine's whitespace tokenization, sentences
    = terminator-run count ([.!?]+, floor 1), syllables ≈ vowel-group
    count floored at one per word (the standard regex approximation —
    hyphenation dictionaries are a library concern, the ENGINE contract
    is a deterministic formula both engines replay bit-for-bit). Pure
    per-row Column expressions — zero shuffles, the
    gopher_repetition_signals plan class; at 100 TB this runs at scan
    bandwidth and composes with quality_percentile_prune as another
    prune axis."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(
            tx.tokens(tx.normalize_text("text")), lambda x: x != ""
        )
    ).cast("long")
    n_sent = F.greatest(
        F.lit(1).cast("long"), F.regexp_count("text", F.lit(r"[.!?]+")).cast("long")
    )
    vg = F.regexp_count(F.lower("text"), F.lit(r"[aeiouy]+")).cast("long")
    syl = F.greatest(n_words, vg)
    flesch = F.when(
        n_words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent)
            - F.lit(84.6) * (syl.cast("double") / n_words),
            4,
        ),
    )
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        syl.alias("syllables_est"),
        flesch.alias("flesch"),
    )


def _profile_orders_oracle() -> str:
    # mirrors operators/profile.py::profile_table metric-for-metric on
    # the orders table; every value uses the same cross-engine string
    # formatting rule (plain cast for exact ints, printf for doubles,
    # strftime for timestamps)
    rows = ["SELECT '_table' AS col_name, 'n_rows' AS metric, CAST(count(*) AS VARCHAR) AS value FROM orders"]
    cols = {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    }
    for c, t in cols.items():
        rows.append(
            f"SELECT '{c}', 'n_null', CAST(count(*) - count({c}) AS VARCHAR) FROM orders"
        )
        rows.append(
            f"SELECT '{c}', 'n_distinct', CAST(count(DISTINCT {c}) AS VARCHAR) FROM orders"
        )
        if t == "bigint":
            rows.append(f"SELECT '{c}', 'min', CAST(min({c}) AS VARCHAR) FROM orders")
            rows.append(f"SELECT '{c}', 'max', CAST(max({c}) AS VARCHAR) FROM orders")
            rows.append(
                f"SELECT '{c}', 'mean', printf('%.6f', round(avg({c}), 6)) FROM orders"
            )
        elif t == "double":
            rows.append(f"SELECT '{c}', 'min', printf('%.6f', min({c})) FROM orders")
            rows.append(f"SELECT '{c}', 'max', printf('%.6f', max({c})) FROM orders")
            rows.append(
                f"SELECT '{c}', 'mean', printf('%.6f', round(avg({c}), 6)) FROM orders"
            )
        elif t == "string":
            rows.append(f"SELECT '{c}', 'min', min({c}) FROM orders")
            rows.append(f"SELECT '{c}', 'max', max({c}) FROM orders")
            rows.append(
                f"SELECT '{c}', 'avg_len', printf('%.6f', round(avg(len({c})), 6)) FROM orders"
            )
        elif t == "timestamp":
            rows.append(
                f"SELECT '{c}', 'min', strftime(min({c}), '%Y-%m-%d %H:%M:%S') FROM orders"
            )
            rows.append(
                f"SELECT '{c}', 'max', strftime(max({c}), '%Y-%m-%d %H:%M:%S') FROM orders"
            )
    return "\nUNION ALL\n".join(rows)


@query("table_profile_orders", oracle=_profile_orders_oracle())
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan profile of the orders table
    (operators/profile.py::profile_table): per-column null counts,
    exact distinct counts, min/max, means and string lengths as a
    long-format (col_name, metric, value) frame — the ANALYZE/
    SUMMARIZE primitive behind schema-drift alarms and ingest QA. Two
    column-pruned subtrees: base metrics in one plain global agg,
    exact distinct counts via a (column, value) explode into hash
    aggregates — deliberately NOT one fused agg, which would fall to
    SortAggregate over an Expand (see operators/profile.py);
    approx_count_distinct is the single-scan 100 TB flag."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return pf.profile_table(orders)


@query(
    "data_quality_report",
    oracle="""
    WITH dup AS (
      SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber
    )
    SELECT 'orders.null.o_custkey' AS check_name,
           CAST(coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 END), 0) AS BIGINT) AS value
    FROM orders
    UNION ALL
    SELECT 'orders.null.o_orderdate',
           CAST(coalesce(sum(CASE WHEN o_orderdate IS NULL THEN 1 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.range.quantity_1_50',
           CAST(coalesce(sum(CASE WHEN NOT coalesce(l_quantity >= 1 AND l_quantity <= 50, FALSE)
                             THEN 1 END), 0) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.range.discount_0_01',
           CAST(coalesce(sum(CASE WHEN NOT coalesce(l_discount >= 0 AND l_discount <= 0.1, FALSE)
                             THEN 1 END), 0) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.dup.n_duplicate_keys',
           CAST(coalesce(sum(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT) FROM dup
    UNION ALL
    SELECT 'lineitem.dup.n_surplus_rows',
           CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0) AS BIGINT) FROM dup
    UNION ALL
    SELECT 'lineitem.fk.n_orphans', CAST(count(*) AS BIGINT)
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    """,
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch pre-flight quality gate over the warehouse tables
    (operators/quality_checks.py): null keys, value-range violations
    (all fused into single scans), duplicate-key surplus (one hash
    agg), and lineitem->orders referential orphans (column-pruned
    LEFT ANTI probe). One (check_name, value) row per gate."""
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")

    nulls = qc.null_violations(orders, ["o_custkey", "o_orderdate"]).select(
        F.concat(F.lit("orders.null."), F.col("column")).alias("check_name"),
        F.col("n_null").cast("long").alias("value"),
    )
    ranges = qc.range_violations(
        lineitem,
        {
            "quantity_1_50": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
            "discount_0_01": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
        },
    ).select(
        F.concat(F.lit("lineitem.range."), F.col("check")).alias("check_name"),
        F.col("n_violations").cast("long").alias("value"),
    )
    keyed = qc.quality_summary({
        "lineitem.dup": qc.duplicate_key_count(
            lineitem, ["l_orderkey", "l_linenumber"]
        ),
        "lineitem.fk": qc.orphan_count(
            lineitem, orders, child_key="l_orderkey", parent_key="o_orderkey"
        ),
    }).select(F.col("check").alias("check_name"), "value")
    return nulls.unionByName(ranges).unionByName(keyed)


@query(
    "dedup_incremental_probe",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) >= 5
                    THEN [array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]
                    ELSE [array_to_string(t, ' ')] END) AS g
      FROM toks
    ),
    sh AS (SELECT doc_id, unnest(g) AS s FROM grams),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.2
      AND (id_a % 10 = 0 OR id_b % 10 = 0)
    """,
)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup, driver-checked end-to-end: docs with
    doc_id % 10 = 0 play the incoming batch, the rest a pre-built
    signature index (operators/dedup.py::build_minhash_index /
    minhash_lsh_probe — only the batch is sketched from text), then a
    candidate-proportional exact-Jaccard verify. The oracle is the
    full exact pair set at the same threshold RESTRICTED to pairs
    touching a new doc — the recall-equality contract dedup_minhash_lsh
    pins for the monolithic path, applied to the incremental one."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    new = documents.filter(F.col("doc_id") % 10 == 0)
    old = documents.filter(F.col("doc_id") % 10 != 0)
    with dd.pinned_scope():
        index = dd.build_minhash_index(old, "text", "doc_id")
        # materialize candidates inside the pin scope (they're reused
        # for the id set AND the verify join below)
        cands = dd.minhash_lsh_probe(new, index, "text", "doc_id").localCheckpoint()
    # registered OUTSIDE the scope: the returned frame still references
    # cands lazily, so it must outlive the scope exit and be freed by
    # the harness's post-materialization release_pinned() instead
    dd.register_pinned(cands)
    # verify is CANDIDATE-proportional: only docs appearing in a
    # candidate pair get their shingle arrays computed — the candidate
    # id set broadcasts into a semi-style prune of the corpus scan.
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    shs = documents.join(F.broadcast(cand_ids), "doc_id").select(
        "doc_id", F.array_distinct(dd.word_ngrams("text", 5)).alias("_shs")
    )
    a = shs.select(F.col("doc_id").alias("id_a"), F.col("_shs").alias("_sha"))
    b = shs.select(F.col("doc_id").alias("id_b"), F.col("_shs").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(inter / (F.size("_sha") + F.size("_shb") - inter), 6),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("id_a", "id_b", "jaccard")
    )


@query(
    "cluster_aware_split_stats",
    oracle="""
    WITH RECURSIVE
    keys AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS k1,
             array_to_string(
               (string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                             ' '))[1:5], ' ') AS k2
      FROM documents
    ),
    e1 AS (SELECT min(doc_id) OVER (PARTITION BY k1) AS a, doc_id AS b
           FROM keys WHERE k1 IS NOT NULL),
    e2 AS (SELECT min(doc_id) OVER (PARTITION BY k2) AS a, doc_id AS b
           FROM keys WHERE k2 IS NOT NULL),
    star AS (
      SELECT a, b FROM e1 WHERE a <> b
      UNION
      SELECT a, b FROM e2 WHERE a <> b
    ),
    edges AS (SELECT a, b FROM star UNION SELECT b AS a, a AS b FROM star),
    walk(id, comp) AS (
      SELECT DISTINCT a AS id, a AS comp FROM edges
      UNION
      SELECT e.b AS id, w.comp FROM walk w JOIN edges e ON e.a = w.id
    ),
    comp AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
    placed AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.comp, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    labeled AS (
      SELECT doc_id, n_chars, rep,
             CASE WHEN CAST('0x' || substr(md5('split' ||
                    CAST(rep AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9000
                  THEN 'train'
                  WHEN CAST('0x' || substr(md5('split' ||
                    CAST(rep AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9500
                  THEN 'val' ELSE 'test' END AS split,
             CASE WHEN CAST('0x' || substr(md5('split' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9000
                  THEN 'train'
                  WHEN CAST('0x' || substr(md5('split' ||
                    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < 9500
                  THEN 'val' ELSE 'test' END AS naive_split
      FROM placed
    ),
    straddle AS (
      SELECT CAST(max(k) AS BIGINT) AS max_splits_per_cluster
      FROM (SELECT rep, count(DISTINCT split) AS k FROM labeled GROUP BY rep)
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN split <> naive_split THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rehomed,
           max_splits_per_cluster
    FROM labeled, straddle
    GROUP BY split, max_splits_per_cluster
    """,
)
def cluster_aware_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test splitting — the leakage-proof form
    of `train_val_test_split`: membership is keyed on each document's
    DEDUP-CLUSTER representative, not its own id, so near-duplicates
    can never straddle splits (the eval-contamination mode a naive
    per-doc split has once the corpus contains duplicates — public
    methodology; the reference's existence-probe family only ever
    guards exact keys, `weekly_dag.py:423,482`).

    Composition: the `dedup_clusters` graph (star blocking edges on
    two fingerprint keys → min-label connected components) labels each
    duplicate-group member with the group minimum; singletons fall
    back to their own id via a LEFT join + coalesce. The split is then
    the same salted-md5 90/5/5 bucket as `train_val_test_split`, taken
    over the representative. Reported per split: docs, distinct
    clusters, char mass, `n_rehomed` (docs whose naive per-doc split
    would have DIFFERED — the quantified would-be leakage), and the
    bijectivity-style proof column `max_splits_per_cluster` (1 ⇔ no
    cluster straddles any split, carried in the result so a
    construction regression flips the value hash).

    Scale shape: the component graph is bounded by duplicate-group
    sizes (star edges, never all-pairs); the corpus side is ONE left
    equi-join against the (small) component frame plus a 3-group
    aggregate; the straddle proof aggregates the per-rep frame (≤
    corpus-sized, map-side combined) and broadcasts 1 row back. No
    RNG anywhere — identical assignment across reruns, partitionings,
    and engines.
    """
    (documents,) = load_tables(spark, sf_dir, "documents")
    norm = tx.normalize_text(F.col("text"))
    edges = dd.blocking_edges(
        documents,
        "doc_id",
        F.md5(norm.cast("binary")),
        F.array_join(F.slice(F.split(norm, " "), 1, 5), " "),
    )
    comp = dd.connected_components(edges).withColumnRenamed("id", "doc_id")
    placed = (
        documents.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("rep"),
        )
    )

    def split_of(col):
        b = sp.hash_bucket(col, "split")
        return (
            F.when(b < 9000, F.lit("train"))
            .when(b < 9500, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    labeled = placed.select(
        "n_chars",
        "rep",
        split_of(F.col("rep")).alias("split"),
        split_of(F.col("doc_id")).alias("naive_split"),
    )
    straddle = (
        labeled.groupBy("rep")
        .agg(F.countDistinct("split").alias("k"))
        .agg(F.max("k").cast("long").alias("max_splits_per_cluster"))
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum((F.col("split") != F.col("naive_split")).cast("long")).alias(
                "n_rehomed"
            ),
        )
        .crossJoin(F.broadcast(straddle))
    )
