"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given scale factor,
runs the matching ``oracle_sql()`` in DuckDB over the same parquet,
and compares: row count, sorted column names, dtypes (loose), and
order-insensitive values (exact after canonicalization; float deltas
reported on mismatch so rounding gaps are visible).

``--gate N`` runs the driver's gate instead: the FIRST N entries of
``queries()`` in a VANILLA SparkSession (default 200 shuffle
partitions, default configs, no timezone pin), as the driver builds
it. The engine's own session (session.get_spark) tunes shuffle
partitions, AQE and the timezone, so a query that silently depends on
one of those configs passes the full sweep and still fails the gate.

Usage:
    python tools/check_oracle.py [sf_dir] [query ...]
    python tools/check_oracle.py --gate N [sf_dir]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python WORKERS must import the package too (pandas UDF closures are
# pickled by reference). session.get_spark puts it on their PYTHONPATH,
# but --gate builds a vanilla SparkSession that never sees get_spark's
# confs: pin PYTHONPATH so the gate does not depend on the launch
# directory.
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    if df.empty:
        return df.reset_index(drop=True)
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: repr(v) if not isinstance(v, str) else v)
    rows = df.astype(str).apply(lambda r: "\x01".join(r), axis=1).sort_values()
    out = df.loc[rows.index].reset_index(drop=True)
    return out


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    # Driver-parity checks: the driver's comparator STRINGIFIES values
    # before hashing, so differences our float-tolerant loop forgives
    # are fatal there. Catch them here.
    for c in sorted(spark_pdf.columns):
        s_int = pd.api.types.is_integer_dtype(spark_pdf[c])
        d_int = pd.api.types.is_integer_dtype(duck_pdf[c])
        s_flt = pd.api.types.is_float_dtype(spark_pdf[c])
        d_flt = pd.api.types.is_float_dtype(duck_pdf[c])
        if (s_int and d_flt) or (s_flt and d_int):
            problems.append(
                f"col {c}: dtype drift spark={spark_pdf[c].dtype} "
                f"duck={duck_pdf[c].dtype} — driver stringifies (5 vs 5.0); "
                f"CAST the oracle (e.g. AS BIGINT) to align"
            )
        for side, pdf in (("spark", spark_pdf), ("duck", duck_pdf)):
            col = pdf[c]
            if col.dtype == object and len(col) and isinstance(
                col.iloc[0], (list, np.ndarray, dict)
            ):
                problems.append(
                    f"col {c}: {side} returns {type(col.iloc[0]).__name__}-typed "
                    f"cells — driver canonicalizer can't sort/hash these; "
                    f"array_join/array_to_string to a string"
                )
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        try:
            af = av.astype(float)
            bf = bv.astype(float)
            both_nan = np.isnan(af) & np.isnan(bf)
            eq = (af == bf) | both_nan
            if not eq.all():
                i = int(np.argmin(eq))
                delta = np.nanmax(np.abs(af - bf))
                problems.append(
                    f"col {c}: {np.sum(~eq)} diffs, max|Δ|={delta:.3g}, "
                    f"first: spark={av[i]!r} duck={bv[i]!r}"
                )
        except (ValueError, TypeError):
            eq = av == bv
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(
                    f"col {c}: {np.sum(~eq)} diffs, first: spark={av[i]!r} duck={bv[i]!r}"
                )
    return problems


def vanilla_session():
    """The driver's session: master only — no shuffle-partition tuning,
    no AQE overrides, no timezone pin. GATE_SIM_DRIVER_MEM optionally
    raises the heap WITHOUT touching any SQL config: at the gated
    sf0.01 the default (1g) suffices, but full-registry sweeps at sf0.1
    exhaust a 1g local-mode heap (driver + all 32 executor threads
    share it) around query ~135 — an environment limit, not a query
    property; SQL-config independence is the axis the gate tests."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[32]").appName("check-oracle-gate")
    mem = os.environ.get("GATE_SIM_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="only these queries")
    ap.add_argument("--gate", type=int, metavar="N",
                    help="first N queries() in a vanilla session")
    args = ap.parse_args()
    sf_dir = args.sf_dir

    import __spark_entry__ as entrymod
    from sentiment_analysis_data_engineering_spark.session import get_spark

    if args.gate:
        spark = vanilla_session()
    else:
        spark = get_spark("check_oracle", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = list(qs)[: args.gate] if args.gate else list(qs)
    if args.queries:
        names = [n for n in names if n in args.queries]
    n_pass = n_fail = n_rows_only = 0
    from sentiment_analysis_data_engineering_spark.operators.dedup import release_pinned

    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        finally:
            release_pinned()  # keep executor storage flat across queries
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(spark_pdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: duckdb raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"ok    {name}: {len(spark_pdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{n_pass} ok, {n_fail} fail, {n_rows_only} rows-only of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
