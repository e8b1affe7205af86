"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
twin on DuckDB over the same sf dir; compare row count, column names,
and order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")


def normalize(df):
    """pandas DataFrame → canonical sorted form for comparison."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def compare(name, spark_pdf, oracle_pdf):
    import pandas as pd

    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA MISMATCH: spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT MISMATCH: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            import numpy as np

            if not np.allclose(
                av.astype(float), bv.astype(float), atol=1e-9, rtol=0, equal_nan=True
            ):
                d = (av.astype(float) - bv.astype(float)).abs()
                # one-sided NaNs are themselves the mismatch; inf-fill
                # so idxmax points at them instead of raising
                bad = d.where(~d.isna(), np.inf).idxmax()
                return f"VALUE MISMATCH col={c} row={bad}: {av[bad]} vs {bv[bad]}"
        else:
            if not av.astype(str).equals(bv.astype(str)):
                diff = av.astype(str) != bv.astype(str)
                i = diff.idxmax()
                return f"VALUE MISMATCH col={c} row={i}: {av[i]!r} vs {bv[i]!r}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    import duckdb

    import __spark_entry__ as entry
    from ligra_spark.session import get_spark

    # one session runs every entry: local[default_parallelism()] and a
    # 4 GB driver heap unless SPARK_GRAFT_DRIVER_MEM says otherwise (the
    # 8 GB session default outgrew the machine over a few dozen entries)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    spark = get_spark("check_entry")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # pass the sf so the fixed-unroll oracles use the depths measured
    # at THIS scale (see oracle_sql's docstring); the no-arg form is
    # the driver's sf0.01 contract and stays untouched
    qs, oracles = entry.queries(), entry.oracle_sql(sf_dir)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"[FAIL] {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(spark_pdf)} rows")
            continue
        try:
            oracle_pdf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"[FAIL] {name}: oracle error: {exc}")
            failures += 1
            continue
        err = compare(name, spark_pdf, oracle_pdf)
        if err:
            print(f"[FAIL] {name}: {err}")
            failures += 1
        else:
            print(f"[OK]   {name}: {len(spark_pdf)} rows match")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
