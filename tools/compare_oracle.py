"""Local stand-in for the driver's correctness harness: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at a given
sf dir, then compare row count, column names, and values exactly
(columns sorted by name, rows sorted by all columns) — a stricter
version of the driver's order-insensitive value-hash.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else v)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns differ: spark={sorted(a.columns)} duck={sorted(b.columns)}"]
    if len(a) != len(b):
        problems.append(f"rowcount differ: spark={len(a)} duck={len(b)}")
        return problems
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
            aligned = pd.DataFrame({"a": pd.to_numeric(av), "b": pd.to_numeric(bv)})
            bad = aligned[
                ~((aligned["a"].isna() & aligned["b"].isna()) | (aligned["a"] == aligned["b"]))
            ]
            if len(bad):
                md = (bad["a"] - bad["b"]).abs().max()
                problems.append(f"col {c}: {len(bad)} float mismatches, maxdiff={md}")
        else:
            neq = ~((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str)))
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, e.g. row {i}: "
                    f"spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from newscrawler_spark.session import get_spark

    spark = get_spark("compare-oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{t_spark:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        problems = compare(sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: rows spark={len(sdf)} duck={len(ddf)} [{t_spark:.1f}s]")
            for p in problems[:5]:
                print(f"      {p}")
        else:
            print(f"OK    {name}: {len(sdf)} rows [{t_spark:.1f}s]")
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
