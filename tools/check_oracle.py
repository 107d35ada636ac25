"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value digest.

Usage: python tools/check_oracle.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from search_engine_spark.session import get_spark

    spark = get_spark(
        app_name="check_oracle",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows={len(sdf)}, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = fresh_con().execute(sql).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            n_fail += 1
            continue
        s, o = normalize(sdf), normalize(odf)
        ok = True
        if len(s) != len(o):
            print(f"FAIL {name}: rows spark={len(s)} oracle={len(o)}")
            ok = False
        elif list(s.columns) != list(o.columns):
            print(f"FAIL {name}: cols spark={list(s.columns)} oracle={list(o.columns)}")
            ok = False
        else:
            try:
                pd.testing.assert_frame_equal(
                    s, o, check_dtype=False, check_exact=False, rtol=0, atol=1.5e-6
                )
            except AssertionError as ex:
                print(f"FAIL {name}: values differ:\n{str(ex)[:800]}")
                diff = s.compare(o) if s.shape == o.shape else None
                if diff is not None and not diff.empty:
                    print(diff.head(10))
                ok = False
        if ok:
            print(f"PASS {name} ({len(s)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
