"""Checks the `relational` and `pipeline` outputs against each entry's
DuckDB oracle SQL (`QueryDef.oracle`), run over the same parquet files.

The comparison is the one tools/selfcheck.py makes: columns sorted by
name, rows sorted by every column, and each cell compared by its exact
rendering (repr for floats, NULL for nulls and NaN).
"""
import math
import os

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def rows(df: pd.DataFrame):
    return [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """The first difference between two result frames, or None."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    g, w = rows(got), rows(want)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"first difference at sorted row {i}: got {a}, expected {b}"
    return None


def connect(tables_dir: str, temp_dir: str):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{tables_dir}/{f}'")
    return con


def check_outputs(tables_dir: str, outputs, temp_dir: str):
    """Errors for every output (op, entry, path, oracle) that differs from
    its oracle; each oracle runs once, however many rounds it checks."""
    con = connect(tables_dir, temp_dir)
    want = {}
    errors = []
    for o in outputs:
        op = o["op"]
        try:
            if op not in want:
                want[op] = con.execute(o["oracle"]).fetchdf()
            got = con.execute(
                f"SELECT * FROM read_parquet('{o['path']}/*.parquet')").fetchdf()
            diff = compare(got, want[op])
        except Exception as e:  # a failed read or oracle is a failed check
            diff = f"{type(e).__name__}: {e}"
        if diff:
            errors.append(f"{o['entry']} ({o['path']}): {diff}")
    con.close()
    return errors
