"""Checks each query's output against DuckDB running its oracle SQL.

The comparison is scripts/check_oracle.py's, imported rather than copied:
its `canon` (columns sorted by name, cells stringified, rows sorted) and
its exact equality, with no numeric tolerance. The DuckDB side is cached
per input directory and SQL text, so a run only canonicalizes its own
outputs.
"""
import hashlib
import os
import pickle
import sys


def _check_oracle(root):
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check_oracle
    return check_oracle


def tables(root):
    """The fixture tables the oracle reads."""
    return _check_oracle(root).TABLES


def check(root, sf_dir, out_dir, oracle_sql, names, cache_dir):
    """Query name -> None if its output under out_dir matches the oracle,
    else the reason it does not."""
    import pandas as pd
    co = _check_oracle(root)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    result = {}
    for name in names:
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            result[name] = "no output written"
            continue
        if name not in oracle_sql:
            result[name] = "no oracle SQL"
            continue
        key = hashlib.sha256(f"{os.path.realpath(sf_dir)}\0{oracle_sql[name]}".encode()).hexdigest()
        cached = os.path.join(cache_dir, f"{name}-{key[:16]}.pkl")
        if os.path.exists(cached):
            with open(cached, "rb") as f:
                exp = pickle.load(f)
        else:
            if con is None:
                con = _duckdb_views(co, sf_dir)
            exp = co.canon(con.execute(oracle_sql[name]).df())
            with open(cached + ".tmp", "wb") as f:
                pickle.dump(exp, f)
            os.replace(cached + ".tmp", cached)
        got = co.canon(pd.read_parquet(path))
        if list(got.columns) != list(exp.columns):
            result[name] = f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
        elif len(got) != len(exp):
            result[name] = f"rows {len(got)} vs oracle {len(exp)}"
        elif not got.equals(exp):
            bad = [c for c in got.columns if (got[c] != exp[c]).any()]
            result[name] = f"values differ in columns {bad}"
        else:
            result[name] = None
    return result


def _duckdb_views(co, sf_dir):
    """A DuckDB connection with one view per fixture table, registered as
    check_oracle.main registers them."""
    import duckdb
    con = duckdb.connect()
    for t in co.TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
