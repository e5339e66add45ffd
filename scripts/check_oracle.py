"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and values (columns sorted by name, rows sorted,
exact equality; float near-misses reported separately so oracle-precision
bugs are distinguishable from real logic bugs).

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

# the checkout this script lives in, not an installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror of the driver's ``_canon``: columns sorted by name, rows via
    ``DataFrame.sort_values`` over the RAW columns — object cells are NOT
    stringified first, so unhashable cells (lists, dicts, arrays) raise
    ``TypeError`` here exactly as they do in the driver gate (the r3
    ``cypher_list_comprehension`` failure mode). Keep this byte-faithful to
    the driver's canonicalization, not "improved"."""
    df = df.copy()
    df.columns = [str(c) for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime"):
            df[c] = s.astype("datetime64[us]").map(lambda v: None if pd.isna(v) else v.isoformat())
    if len(df) == 0:
        return df.reset_index(drop=True)
    # sort_values over raw columns — raises on unhashable object cells,
    # matching pandas.core.sorting.lexsort_indexer in the driver.
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    if len(sdf) != len(odf):
        return False, f"row count {len(sdf)} vs oracle {len(odf)}"
    a, b = canon(sdf), canon(odf)
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    mism = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            af = pd.to_numeric(av, errors="coerce").astype(float)
            bf = pd.to_numeric(bv, errors="coerce").astype(float)
            exact = ((af == bf) | (af.isna() & bf.isna())).all()
            if not exact:
                diff = (af - bf).abs().max()
                if math.isnan(diff) or diff > 0:
                    mism.append(f"{c}: float max|diff|={diff!r}")
        else:
            eq = (av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna())
            if not eq.all():
                i = int((~eq).idxmax())
                mism.append(f"{c}: e.g. row {i}: {av[i]!r} vs {bv[i]!r}")
    if mism:
        return False, "; ".join(mism[:4])
    return True, "ok"


def main() -> int:
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a]

    import __spark_entry__ as e
    from docker_neo4j_spark import get_spark

    spark = get_spark(
        master="local[8]", extra_conf={"spark.sql.shuffle.partitions": "16"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    todo = names or list(qs)
    n_pass = n_fail = n_rows_only = 0
    for name in todo:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        ok, msg = compare(sdf, odf)
        status = "PASS" if ok else "FAIL"
        print(f"{status}  {name}: {msg} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
        n_pass += ok
        n_fail += not ok
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only / {len(todo)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
