"""Driver-simulator: run every __spark_entry__ query against its DuckDB
oracle the way the grading driver does (row count + schema names +
order-insensitive value hash).  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for row in pdf.itertuples(index=False):
        rows.append("|".join(_norm(v) for v in row))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm(v) -> str:
    # NO float rounding here: the grading driver hashes values strictly, so
    # 16028.0 (double) vs 16028 (bigint) must hash DIFFERENTLY or this
    # checker gives false "ALL OK" (round-3 lesson: bank_prefiltered_join).
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    from tools.pyfiles import driver_heap

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_heap())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({el:.1f}s)  [rows-only]")
            if len(sdf) == 0 and name not in ("noop",):
                print(f"      WARNING: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {exc}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
            merged = sdf[sorted(sdf.columns)].reset_index(drop=True)
            om = odf[sorted(odf.columns)].reset_index(drop=True)
            try:
                a = merged.sort_values(list(merged.columns)).reset_index(drop=True)
                b = om.sort_values(list(om.columns)).reset_index(drop=True)
                neq = (a.astype(str) != b.astype(str)).any(axis=1)
                print(f"      first diffs:\n{a[neq].head(3)}\nvs\n{b[neq].head(3)}")
            except Exception:
                pass
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({el:.1f}s)")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sdf)} rows match oracle ({el:.1f}s)")

    if not only:
        t0 = time.time()
        edf = E.entry(spark).toPandas()
        print(f"entry: {len(edf)} rows ({time.time()-t0:.1f}s)")
        print(edf.to_string())
    spark.stop()
    print("RESULT:", "FAIL" if n_fail else "ALL OK", f"({n_fail} failures)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
