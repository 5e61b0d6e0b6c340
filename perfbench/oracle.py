"""DuckDB oracle check for the batch workloads.

For every query a workload ran, the first result the engine produced (written
as parquet by the benchmark process) is compared with the query's oracle SQL
(`SparkEntry.oracleSql`) run by DuckDB over the same generated tables:
columns sorted by name, rows sorted, values compared exactly (doubles
bit-identical, NaN equal to NaN). Later executions of the same query are
checked against that first result by digest inside the benchmark process.
"""
import concurrent.futures
import glob
import os

import duckdb
import numpy as np
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _same(spark_df, duck_df):
    s, d = _canon(spark_df), _canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        a, b = s[c].values, d[c].values
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
        else:
            av = pd.Series(a).astype(object).where(pd.Series(a).notna(), None)
            bv = pd.Series(b).astype(object).where(pd.Series(b).notna(), None)
            eq = np.array([x == y or (x is None and y is None) for x, y in zip(av, bv)], dtype=bool)
        if not eq.all():
            return f"column {c}: {int((~eq).sum())} values differ"
    return None


def check(data_dir, results_dir, oracle_sql, queries):
    """{query: None if it matches the oracle, else the reason}. Queries run
    concurrently, one DuckDB cursor each."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    def one(q):
        if q not in oracle_sql:
            return "no oracle SQL registered"
        try:
            spark_df = pd.read_parquet(os.path.join(results_dir, q))
        except Exception as e:  # noqa: BLE001 - any unreadable result is a failure
            return f"no engine result ({e})"
        try:
            duck_df = con.cursor().sql(oracle_sql[q]).df()
        except Exception as e:  # noqa: BLE001
            return f"oracle SQL error: {e}"
        return _same(spark_df, duck_df)

    with concurrent.futures.ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        return dict(zip(queries, pool.map(one, queries)))
