"""Local replica of the driver's correctness gate: run every
`__spark_entry__.queries()` entry and its `oracle_sql()` twin (DuckDB)
at a given scale factor; compare row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from logshipper_spark.session import get_spark, release_held  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.dropna().size else None, (list, tuple)):
            s = s.map(lambda v: str(list(v)) if v is not None else None)
        elif str(s.dtype).startswith("datetime"):
            s = s.astype("datetime64[us]").astype(str)
        elif s.dtype == float:
            s = s.map(lambda v: f"{v:.9g}" if pd.notna(v) else None)
        elif s.dtype == bool or str(s.dtype) == "boolean":
            s = s.astype(str)
        out[c] = s.astype(str)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        finally:
            # operators hold reused frames for the action; a sweep must
            # not carry them into later queries
            release_held()
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s, rows-only)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        a, b = canon(sdf), canon(odf)
        status = []
        if len(a) != len(b):
            status.append(f"rowcount {len(a)} vs {len(b)}")
        if list(a.columns) != list(b.columns):
            status.append(f"cols {list(a.columns)} vs {list(b.columns)}")
        elif len(a) == len(b) and not a.equals(b):
            neq = (a != b).any(axis=1)
            idx = neq[neq].index[:3]
            status.append(f"values differ on {int(neq.sum())} rows, e.g.:")
            for i in idx:
                status.append(f"    spark : {a.loc[i].to_dict()}")
                status.append(f"    oracle: {b.loc[i].to_dict()}")
        if status:
            failures.append(name)
            print(f"FAIL  {name} ({time.time()-t0:.1f}s):")
            for s in status:
                print("   " + s)
        else:
            print(f"OK    {name}: {len(a)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
