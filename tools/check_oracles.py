#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count, schema (column names), and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified)."""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

# check the checkout this script lives in, not whichever copy is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(df) -> str:
    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        df[c] = df[c].map(lambda v: repr(sorted(v)) if isinstance(v, (list, tuple)) else
                          (f"{v:.9g}" if isinstance(v, float) else str(v)))
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(set(args.only or []) - set(qs))
    if unknown:
        print(f"unknown row name(s): {' '.join(unknown)}\nvalid: {' '.join(sorted(qs))}",
              file=sys.stderr)
        return 2
    names = args.only or list(qs)

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .config("spark.driver.extraJavaOptions", "-Xss32m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # call-site capture for error enrichment costs 3 Py4J round trips
        # per DataFrame API call on the driver — measured ~30% of warm plan
        # authoring on the deep scoring plan; pure diagnostics, no semantics
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')")

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s) cols={sorted(sdf.columns)}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append(f"value-hash {hs} vs {ho}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            # show a small diff sample
            try:
                import pandas as pd
                cols = sorted(set(sdf.columns) & set(odf.columns))
                s2 = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
                o2 = odf[cols].astype(str).sort_values(cols).reset_index(drop=True)
                neq = (s2 != o2).any(axis=1)
                if neq.any():
                    i = neq.idxmax()
                    print("   spark :", s2.iloc[i].to_dict())
                    print("   duckdb:", o2.iloc[i].to_dict())
            except Exception:
                pass
        else:
            print(f"ok    {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
