"""DuckDB oracle compare for the benchmark's verified results.

Each key's verified result (a parquet directory written by the harness)
is compared with DuckDB running the key's `SparkEntry.oracleSql` over the
same input tables: columns sorted by name, rows sorted, values equal
exactly, and int-vs-float column families equal, as `tools/check.py`
judges them.
"""
import glob
import os

import duckdb
import pandas as pd

import datagen


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _family(kind):
    return "i" if kind in "iu" else ("f" if kind == "f" else kind)


def _mismatch(got, want):
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != oracle {list(w.columns)}"
    if g.shape != w.shape:
        return f"shape {g.shape} != oracle {w.shape}"
    for c in g.columns:
        gf, wf = _family(g[c].dtype.kind), _family(w[c].dtype.kind)
        if gf != wf and "O" not in (gf, wf):
            return f"column {c}: {g[c].dtype} vs oracle {w[c].dtype}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + str(e).replace("\n", " ")[:300]
    return None


def compare(data_dir, oracle_sql, result_paths):
    """Returns {key: reason} for every key whose result differs from its
    oracle; keys without an oracle are not judged here."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in datagen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for key, sql in sorted(oracle_sql.items()):
        if key not in result_paths:
            continue
        files = sorted(glob.glob(os.path.join(result_paths[key], "*.parquet")))
        try:
            got = (pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                   if files else pd.DataFrame())
            want = con.execute(sql).fetchdf()
            why = _mismatch(got, want)
        except Exception as e:  # an oracle that cannot run is a failure too
            why = f"oracle error: {type(e).__name__}: {str(e)[:200]}"
        if why:
            bad[key] = why
    con.close()
    return bad
