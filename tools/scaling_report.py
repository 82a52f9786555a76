"""Generate SCALING.md — measured scale-up behavior of the headline
queries.

Runs every bench headline query at sf0.01 and sf0.1 (10× the data) on
the same session and reports the wall-clock ratio. Interpretation
guidance (written into the report): with 10× data a perfectly linear,
compute-bound query shows ratio ≈ 10; small inputs are fixed-overhead
dominated (job scheduling, codegen, broadcast setup) and show ratios
well under 10 — that's headroom, not speedup; ratios meaningfully
OVER 10 indicate superlinear work growth and are flagged for the
per-family design ledger (SCALE.md) to explain or fix.

    python tools/scaling_report.py        # writes SCALING.md at the repo root
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
SCALING_MD = os.path.join(ROOT, "SCALING.md")

SFS = [("0.01", "/root/testdata/sf0.01"), ("0.1", "/root/testdata/sf0.1")]
#: flagged when the sf0.1 time exceeds ratio-threshold x the sf0.01
#: time AND is slow enough for the ratio to be signal, not jitter
RATIO_FLAG = 12.0
MIN_SECS_FLAG = 1.0


def measure_per_sf(app: str, names, sfs) -> dict[str, dict[str, float]]:
    """``{name: {sf: sec}}`` via bench.measure, one call per (query, SF)
    pair so each pair gets its own discarded same-SF warm-up. Per-QUERY
    interleaving: sweeping a whole scale factor first lets
    session/codegen warm-up inflate the small-SF baselines, which
    deflates every ratio and can hide a genuinely superlinear query
    from the flag. Failed pairs are left out."""
    from sentiment_analysis_data_engineering_spark.session import get_spark

    import __spark_entry__ as entrymod
    from bench import RUNS, measure

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    times: dict[str, dict[str, float]] = {}
    for name in names:
        for sf, sf_dir in sfs:
            rec = measure(spark, qs, [name], sf_dir, warm_dir=sf_dir, runs=RUNS)
            if name in rec["queries"]:
                times.setdefault(name, {})[sf] = rec["queries"][name]
                print(f"{name}@{sf}: {rec['queries'][name]:.3f}s", flush=True)
    return times


def main() -> None:
    from bench import HEADLINE, RUNS

    times = measure_per_sf("scaling-report", HEADLINE, SFS)
    lines = [
        "# SCALING — measured 10× scale-up behavior "
        "(generated by tools/scaling_report.py)",
        "",
        f"Min of {RUNS} timed runs per query per scale factor after one "
        "discarded warm-up run, scale factors interleaved per query so "
        "session warm-up cannot bias the small-SF baseline, noop sink.",
        "Reading the ratio (sf0.1 / sf0.01, i.e. 10× the data):",
        "",
        "- **≈10** — linear compute-bound scaling, the design target;",
        "- **«10** — fixed-overhead dominated at these sizes (scheduling,",
        "  codegen, broadcast setup); headroom, not speedup;",
        f"- **>{RATIO_FLAG:.0f} and over {MIN_SECS_FLAG}s at sf0.1** — "
        "flagged ⚠ superlinear; must be explained in SCALE.md or fixed.",
        "",
        "| query | sf0.01 s | sf0.1 s | ratio | note |",
        "|---|---|---|---|---|",
    ]
    flagged = []
    for name in HEADLINE:
        t = times.get(name, {})
        if "0.01" not in t or "0.1" not in t:
            continue
        ratio = t["0.1"] / t["0.01"] if t["0.01"] > 0 else float("inf")
        note = ""
        if ratio > RATIO_FLAG and t["0.1"] >= MIN_SECS_FLAG:
            note = "⚠ superlinear"
            flagged.append(name)
        lines.append(
            f"| {name} | {t['0.01']:.3f} | {t['0.1']:.3f} "
            f"| {ratio:.1f}× | {note} |"
        )
    lines += [
        "",
        f"Flagged: {flagged if flagged else 'none'}.",
        "",
    ]
    # Preserve the sf0.1 -> sf1.0 iterative-family section maintained by
    # tools/scaling_sf1_report.py — this tool owns only the main table.
    try:
        with open(SCALING_MD) as f:
            prior = f.read()
        m = re.search(
            r"<!-- sf1-section-start -->.*?<!-- sf1-section-end -->",
            prior,
            re.S,
        )
        if m:
            lines += [m.group(0), ""]
    except FileNotFoundError:
        pass
    with open(SCALING_MD, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote SCALING.md; flagged={flagged}")


if __name__ == "__main__":
    main()
