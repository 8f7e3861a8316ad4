"""Checks the outputs of the benchmark's untimed pass against DuckDB.

Each checked step left its output as parquet under `<check_dir>/<step>`;
its oracle is the step's `SparkEntry.oracleSql` query, run by DuckDB over
the same generated tables. Outputs compare as sets of rows after sorting
columns by name and rendering values as strings (the project's
`scripts/check.py` rule). A step without an oracle must return rows.
"""
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

import gen


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(data_dir, check_dir, steps, oracles):
    """{step name: None if its output is right, else why not} for every
    step of `steps` (the JVM's checking-pass records) that succeeded."""
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")

    def verdict(s):
        got = pd.read_parquet(os.path.join(check_dir, s["name"]))
        oracle = s.get("oracle")
        if not oracle:
            return None if len(got) else "no rows"
        g, w = _norm(got), _norm(con.cursor().execute(oracles[oracle]).df())
        if list(g.columns) != list(w.columns):
            return f"columns {list(g.columns)} != {list(w.columns)}"
        if len(g) != len(w):
            return f"{len(g)} rows != {len(w)}"
        if not g.equals(w):
            return f"{int((g != w).any(axis=1).sum())} rows differ"
        return None

    # streams are compared with their batch counterparts in the JVM
    todo = [s for s in steps if s["ok"] and s["module"] != "streaming"
            and os.path.isdir(os.path.join(check_dir, s["name"]))]
    # the recursive oracles (q55, q65) and q124's take seconds each; they
    # run side by side, after the benchmark JVM has exited
    with ThreadPoolExecutor(max_workers=os.cpu_count()) as pool:
        return dict(zip([s["name"] for s in todo], pool.map(verdict, todo)))
