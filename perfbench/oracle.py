"""Compares the harness's result parquet against each query's DuckDB
oracle, the way scripts/check.py does: columns sorted by name, rows
sorted by every column, exact values (NaN equals NaN, timestamps
compared as nanoseconds). The comparison lives here, not imported from
scripts/, so a change to the repository's scripts cannot change how the
benchmark judges a result.
"""
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def differs(got, exp):
    """None when the frames match, else a one-line reason."""
    if got.shape != exp.shape or list(got.columns) != list(exp.columns):
        return f"shape {got.shape}{list(got.columns)} vs oracle {exp.shape}{list(exp.columns)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
            same = (pd.to_datetime(a).astype("datetime64[ns]").astype("int64")
                    .equals(pd.to_datetime(b).astype("datetime64[ns]").astype("int64")))
        elif a.dtype.kind in "fc" or b.dtype.kind in "fc":
            same = bool(((a.isna() & b.isna()) | (a == b)).all())
        else:
            same = a.astype(str).equals(b.astype(str))
        if not same:
            bad = int((~((a.isna() & b.isna()) | (a.astype(str) == b.astype(str)))).sum())
            return f"column {c} differs in {bad} of {len(a)} rows"
    return None


def check(data_dir, results_dir, oracles, names, corrupt=None):
    """Returns [(query, reason)] for every query whose result is missing,
    has no oracle, or differs from it. `corrupt` names a query whose
    expected result is perturbed first, to prove the check can fail.
    """
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for name in sorted(names):
        if name not in oracles:
            bad.append((name, "no oracle"))
            continue
        path = os.path.join(results_dir, name)
        try:
            got = canon(pd.read_parquet(path))
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # a broken oracle or result is a failure, not a skip
            bad.append((name, f"{type(e).__name__}: {str(e)[:300]}"))
            continue
        if name == corrupt:
            exp = exp.iloc[1:] if len(exp) else pd.concat([exp, exp.reindex([0])])
        why = differs(got, canon(exp))
        if why:
            bad.append((name, why))
    con.close()
    return bad
