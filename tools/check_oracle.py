"""Local stand-in for the driver's correctness gate: run every
queries() entry and its oracle_sql() in DuckDB at sf0.01, compare
row count + column names + order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if np.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (np.floating,)):
        return norm_cell(float(v))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = ["\x01".join(norm_cell(v) for v in rec) for rec in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return hashlib.md5("\x02".join(rows).encode()).hexdigest()


def main(only: list[str] | None = None):
    import __spark_entry__ as entrymod
    from irivermetrics_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows, {dt:.1f}s (rows-only)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = value_hash(sdf) == value_hash(odf) if ok_rows and ok_cols else False
        status = "OK   " if (ok_rows and ok_cols and ok_hash) else "FAIL "
        print(f"{status} {name}: rows {len(sdf)}/{len(odf)} cols={ok_cols} hash={ok_hash} ({dt:.1f}s)")
        if status.startswith("FAIL"):
            failures.append(name)
            if ok_rows and ok_cols:
                cols = sorted(sdf.columns)
                a = sdf[cols].sort_values(cols).reset_index(drop=True)
                b = odf[cols].sort_values(cols).reset_index(drop=True)
                diff = (a.astype(str) != b.astype(str)).any(axis=1)
                print("  spark:", a[diff].head(3).to_dict("records"))
                print("  duck :", b[diff].head(3).to_dict("records"))
    print("\nFAILURES:", failures or "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
