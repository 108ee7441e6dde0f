"""DuckDB oracle check for the catalog_mix workload.

Runs each query's oracle SQL (`Q.oracle`, dumped by the harness as
`oracle.json`) in DuckDB over the same parquet tables and compares it with
the Spark result the harness wrote in its warm pass: columns sorted by
name, rows sorted, exact match except that doubles may differ by 1e-9
relative (aggregation order).
"""
import glob
import json
import os
import sys

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _same(got, exp):
    import numpy as np
    import pandas as pd
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns) or len(got) != len(exp):
        return False
    cols = list(got.columns)
    g = got.sort_values(cols).reset_index(drop=True)
    e = exp.sort_values(cols).reset_index(drop=True)
    for c in cols:
        a, b = g[c], e[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            af, bf = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            if not np.array_equal(np.isnan(af), np.isnan(bf)):
                return False
            m = ~np.isnan(af)
            if not np.allclose(af[m], bf[m], rtol=1e-9, atol=1e-9):
                return False
        elif not a.astype(str).equals(b.astype(str)):
            return False
    return True


def check(data_dir, work_dir):
    """Returns (checked, failed names)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    with open(os.path.join(work_dir, "oracle.json")) as f:
        oracle = json.load(f)
    failed = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(work_dir, "catalog_out", name, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(p) for p in files]) if files else None
            ok = got is not None and bool(sql) and _same(got, con.execute(sql).df())
        except Exception as e:  # a failing oracle or unreadable dump is a failed check
            print(f"[perfbench] oracle {name}: {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed.append(name)
    return len(oracle), failed
