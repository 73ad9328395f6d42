"""Correctness check for one benchmark run.

Compares each query's dumped output with its DuckDB oracle, using the
comparison rules of tools/check.py (columns sorted by name, rows sorted,
doubles with tolerance). Queries without an oracle get tools/check.py's
rows-only check. Unlike tools/check.py, a table may be a directory of part
files, as the split fixtures are.
"""
import glob
import importlib.util
import json
import os

import duckdb


def _rules(root):
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def connect(root, fixture):
    """A DuckDB connection with one view per fixture table."""
    rules = _rules(root)
    con = duckdb.connect()
    for t in rules.TABLES:
        path = os.path.join(fixture, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con, rules


def compare(root, fixture, dump, queries):
    """Map each query to None when its output is correct, else a reason."""
    con, rules = connect(root, fixture)
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in queries:
        if not glob.glob(os.path.join(dump, name, "*.parquet")):
            out[name] = "no output"
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{os.path.join(dump, name)}/*.parquet')")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        if name not in oracle:
            out[name] = None if got_rows else "rows-only check: 0 rows"
            continue
        try:
            want = con.execute(oracle[name])
        except duckdb.Error as e:
            out[name] = f"oracle SQL error: {e}"
            continue
        want_cols = [d[0] for d in want.description]
        gc, gr = rules.canon(got_rows, got_cols)
        wc, wr = rules.canon(want.fetchall(), want_cols)
        if gc != wc:
            out[name] = f"columns {gc} != oracle {wc}"
        elif len(gr) != len(wr):
            out[name] = f"{len(gr)} rows != oracle {len(wr)}"
        else:
            bad = next((i for i, (g, w) in enumerate(zip(gr, wr))
                        if not all(rules.approx_eq(a, b) for a, b in zip(g, w))), None)
            out[name] = None if bad is None else f"row {bad} differs: {gr[bad]} != {wr[bad]}"
    con.close()
    return out
