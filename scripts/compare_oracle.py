"""Local mimic of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count + sorted-column value frame.  Usage:

    python scripts/compare_oracle.py [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from entity_resolution_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark("oracle-compare")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows spark={len(sdf)} duckdb={len(odf)}")
            failures.append(name)
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: cols spark={sorted(sdf.columns)} duckdb={sorted(odf.columns)}")
            failures.append(name)
            continue
        a, b = canon(sdf), canon(odf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
            print(f"ok   {name}: {len(sdf)} rows match [{time.time()-t0:.1f}s]")
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch: {str(e)[:500]}")
            failures.append(name)
    print("\nFAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
