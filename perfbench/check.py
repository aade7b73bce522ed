"""Output check for one benchmark run, made after the JVM has exited.

Every query's output is compared with DuckDB running the query's oracle SQL
(SparkEntry.oracleSql) on the same parquet inputs: columns sorted by name,
rows sorted, values and dtypes equal. A query without oracle SQL fails.
"""
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def _diff(got: pd.DataFrame, want: pd.DataFrame):
    if list(got.columns) != list(want.columns):
        return f"columns got={list(got.columns)} want={list(want.columns)}"
    if len(got) != len(want):
        return f"rows got={len(got)} want={len(want)}"
    for c in got.columns:
        if str(got[c].dtype) != str(want[c].dtype):
            return f"dtype[{c}] got={got[c].dtype} want={want[c].dtype}"
        eq = (got[c] == want[c]) | (got[c].isna() & want[c].isna())
        if not eq.all():
            i = int((~eq).idxmax())
            return f"value[{c}] row {i}: got={got[c][i]!r} want={want[c][i]!r}"
    return None


def check(data_dir, out_dir, queries):
    """Return {query: problem} for every query whose output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = {}
    for name in queries:
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/q/{name}/*.parquet'").df()
            if name in oracle:
                problem = _diff(_canon(got), _canon(con.sql(oracle[name]).df()))
            else:
                problem = "no oracle SQL"
        except Exception as e:  # an unreadable output is a wrong output
            problem = f"{type(e).__name__}: {e}"
        if problem:
            problems[name] = problem
    con.close()
    return problems
