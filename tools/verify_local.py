"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted by all
columns). Floats compared exactly first, then with tolerance as a
diagnostic — the driver hashes values, so exact is the bar.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # this checkout's code, wherever the script is started from
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    # literal-value estimator oracles (oracle_ref) must be built against
    # the same sf dir the queries run at
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    import __spark_entry__ as entrymod
    from deeptime_spark.session import get_spark

    spark = get_spark("verify-local")

    con = duckdb.connect()
    for name in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({dt:.1f}s) [rows-only]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        if not problems:
            a, b = normalize(sdf), normalize(odf)
            for c in a.columns:
                av, bv = a[c].to_numpy(), b[c].to_numpy()
                # The driver hashes raw values, so an int-vs-float dtype
                # divergence (e.g. DuckDB SUM(BIGINT) -> HUGEINT -> float64
                # vs Spark BIGINT) is a real failure even when the numbers
                # coincide.  Flag it BEFORE any float coercion.
                kind = lambda k: {"i": "int", "u": "int", "f": "float"}.get(k, k)
                if kind(av.dtype.kind) != kind(bv.dtype.kind) and (
                    "int" in (kind(av.dtype.kind), kind(bv.dtype.kind))
                    or "float" in (kind(av.dtype.kind), kind(bv.dtype.kind))
                ):
                    problems.append(
                        f"col {c}: dtype-kind mismatch spark={av.dtype} "
                        f"oracle={bv.dtype} (driver hashes these differently)"
                    )
                    continue
                if av.dtype.kind == "f" or bv.dtype.kind == "f":
                    av = av.astype(float)
                    bv = bv.astype(float)
                    both_nan = np.isnan(av) & np.isnan(bv)
                    exact = np.array_equal(av[~both_nan], bv[~both_nan])
                    if not exact:
                        close = np.allclose(av[~both_nan], bv[~both_nan], rtol=1e-9, atol=1e-12)
                        mism = int((av[~both_nan] != bv[~both_nan]).sum())
                        problems.append(
                            f"col {c}: {mism} exact-mismatches"
                            + (" (within 1e-9 tol)" if close else " (BEYOND tol)")
                        )
                else:
                    if not (av.astype(str) == bv.astype(str)).all():
                        mism = int((av.astype(str) != bv.astype(str)).sum())
                        idx = np.nonzero(av.astype(str) != bv.astype(str))[0][:3]
                        problems.append(
                            f"col {c}: {mism} mismatches e.g. {[(av[i], bv[i]) for i in idx]}"
                        )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"pass  {name}: {len(sdf)} rows ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
