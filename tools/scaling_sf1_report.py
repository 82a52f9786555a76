"""Measure the ITERATIVE query families one decade further up
(sf0.1 -> synthetic sf1.0) and maintain a delimited section in
SCALING.md.

The main scaling_report.py measures every headline query at
sf0.01 -> sf0.1, where fixed overhead dominates and most ratios land
well under 10 — that decade cannot distinguish "scales linearly" from
"never left the constant term" for the expensive iterative operators.
This tool runs exactly those families against the 10x corpus built by
tools/gen_scaling_sf1.py (run it first) and rewrites the
"## sf0.1 -> sf1.0" section of SCALING.md in place, leaving the main
report untouched.

Flag rule matches the main report: ratio > 12 with the large-SF time
over 1.0s is marked superlinear and must be explained (triangle
counting is O(m^1.5) worst-case, so its budgeted bound is documented
inline rather than flagged).

    python tools/gen_scaling_sf1.py      # once, builds .scaling_sf1/
    python tools/scaling_sf1_report.py   # updates SCALING.md section
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
SCALING_MD = os.path.join(ROOT, "SCALING.md")

from bench import RUNS  # noqa: E402
from scaling_report import measure_per_sf  # noqa: E402

SF1_DIR = os.path.join(ROOT, ".scaling_sf1")
SFS = [("0.1", "/root/testdata/sf0.1"), ("1.0", SF1_DIR)]
RATIO_FLAG = 12.0
MIN_SECS_FLAG = 1.0

#: the iterative families (graph fixed-point, SemDeDup, BPE training,
#: LSH/banded dedup + connected components) — the queries whose
#: sf0.01->sf0.1 ratios are fixed-overhead dominated
ITERATIVE = [
    "pagerank_copurchase_parts",
    "pagerank_weighted_copurchase",
    "personalized_pagerank_parts",
    "triangle_counts_parts",
    "kcore_parts",
    "semantic_dedup_stats",
    "bpe_merge_stats",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_embedding_cosine",
    # r11: the persisted IVF-PQ index MAINTENANCE family (verdict item
    # 4) — build, merge, probe, delete+reembed, drift audit and the
    # full audit->retrain cycle, previously measured only to sf0.1.
    # Each query builds its index from the sf_dir embeddings table, so
    # the 10x rotated-embedding corpus exercises 10x encode/audit rows
    # against the same bounded model state.
    "ann_index_lifecycle",
    "ann_index_drift_audit",
    "ann_index_delete_reembed",
    "ann_index_retrain_cycle",
    # r13: the all-families discriminative recall gate (verdict item
    # 4) — its three exact brute-force baseline scans are the only
    # part that grows with corpus size (the planted fixture is
    # synthesized from the embeddings table's ids, so the 10x corpus
    # means 10x synthesis + exact-scan rows against the same
    # 10-query/k=5-bounded hit joins); one measured decade carries the
    # fixed-overhead claim (SCALING ratio 0.8x at sf0.1) to sf1.
    "ann_clustered_recall_families",
]

SECTION_START = "<!-- sf1-section-start -->"
SECTION_END = "<!-- sf1-section-end -->"


def render(times: dict[str, dict[str, float]]) -> str:
    lines = [
        SECTION_START,
        "",
        "## sf0.1 → sf1.0 (iterative families, synthetic 10× corpus)",
        "",
        "One decade further for the iterative operators, where the "
        "sf0.01→sf0.1 decade is fixed-overhead dominated. The sf1.0 "
        "corpus is built by `tools/gen_scaling_sf1.py`: 10 disjoint "
        "co-purchase subgraphs (lineitem key offsets — nodes AND edges "
        "×10, degree structure preserved), marker-spliced documents "
        "(shingle Jaccard vs source ≈0.29, so LSH bucket density stays "
        "corpus-realistic instead of 90%-duplicate), and "
        "rotation+sign-flip embeddings (cosine to source ≈0, norms "
        "preserved). Same protocol as above: min of "
        f"{RUNS} timed runs after a discarded warm-up, per-query "
        "interleaving, noop sink; flag rule ratio > 12 at > 1.0 s.",
        "",
        "| query | sf0.1 s | sf1.0 s | ratio | note |",
        "|---|---|---|---|---|",
    ]
    for name in ITERATIVE:
        t = times.get(name, {})
        a, b = t.get("0.1"), t.get("1.0")
        if a is None or b is None:
            lines.append(f"| {name} | {a or '—'} | {b or '—'} | — | FAILED |")
            continue
        ratio = b / a if a > 0 else float("inf")
        flag = "⚠ superlinear" if ratio > RATIO_FLAG and b > MIN_SECS_FLAG else ""
        lines.append(f"| {name} | {a} | {b} | {ratio:.1f}× | {flag} |")
    lines += [
        "",
        "Cost-model context for the ratios (matches the r5/r6 "
        "implementations): pagerank is Θ(iterations × edges) with a "
        "fixed 3-iteration budget, so ≈10 is the linear ceiling; "
        "triangle counting's compact-forward bound is O(m^1.5), so up "
        "to ≈31.6 at 10× edges would still be within-model (the flag "
        "threshold stays 12 because the forward orientation keeps "
        "real-world graphs near-linear); k-core uses DELTA PEELING "
        "(graph.py:383) — each round's shuffle is proportional to the "
        "edges REMOVED that round plus |V| for the degree update, "
        "never to the surviving-edge recount, so total work ∝ m + "
        "rounds·|V| with an early fixed-point exit (the pre-r5 model "
        "\"rounds × surviving edges\" is obsolete); SemDeDup "
        "(similarity.py:1547,1668) fits k-means on a hash-ordered "
        "max(8192, 32·k) TakeOrdered sample — the fit never touches "
        "the full corpus — then pays one Θ(n·k) assignment pass and a "
        "per-cluster-LOCAL pair join that stays linear at the fixed "
        "≈250-point expected cluster size (k is raised ∝ n, the "
        "paper's own scaling story). The INDEX MAINTENANCE family "
        "(similarity.py ivfpq_*): training is a bounded 256-row "
        "hash-ordered sample regardless of corpus (fixed cost), encode "
        "is one linear Arrow pass, merge/delete rewrite only the "
        "touched cell partitions, the drift audit is one linear "
        "codes⋈corpus join + decode, and probes read ~n_probe/n_cells "
        "of the index — so lifecycle/audit rows should scale ≈linearly "
        "in the embedding count and retrain_cycle (two full builds + "
        "merge + two audits) likewise, all with large fixed "
        "multi-action overhead at these absolute sizes. Ratios at or "
        "under these models with zero flags = the second decade "
        "passes.",
        "",
        f"Protocol note: {RUNS} runs (SPARK_GRAFT_BENCH_RUNS) for this "
        "table — min-of-2 demonstrably under-converges the heavy "
        "iterative queries in a fresh JVM (triangles at sf1.0 "
        "measured 43.7 s on min-of-2 vs 28.6 s steady-state in a "
        "3-run probe; SemDeDup sf0.1 18.0→5.5 s across three runs). "
        "The sf0.1 column here is NOT comparable in absolute seconds "
        "to the main table's sf0.1 column or to BENCH numbers: this "
        "run warms the JVM with only the 11 other iterative queries, "
        "while the main report and bench.py measure after 130+ "
        "queries of codegen/JIT warmth, which the graph family "
        "rewards with ~2× lower absolutes (kcore_parts sf0.1: ≈6.1 s "
        "at this table's warmth vs ≈2.6-2.7 s deep-warmed, same HEAD, "
        "same VM, same hour). Within-table ratios measured at uniform "
        "warmth are the scaling signal.",
        "",
        SECTION_END,
    ]
    return "\n".join(lines)


def main() -> None:
    if not os.path.isdir(SF1_DIR):
        raise SystemExit("run tools/gen_scaling_sf1.py first")
    times = measure_per_sf("scaling-sf1", ITERATIVE, SFS)
    section = render(times)
    with open(SCALING_MD, encoding="utf-8") as fh:
        doc = fh.read()
    if SECTION_START in doc:
        doc = re.sub(
            re.escape(SECTION_START) + ".*?" + re.escape(SECTION_END),
            section,
            doc,
            flags=re.S,
        )
    else:
        doc = doc.rstrip() + "\n\n" + section + "\n"
    with open(SCALING_MD, "w", encoding="utf-8") as fh:
        fh.write(doc)
    print(f"SCALING.md sf1 section updated ({len(times)} queries)")


if __name__ == "__main__":
    main()
