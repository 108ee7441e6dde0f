#!/usr/bin/env python3
"""Compare two TPG gold directories table by table in DuckDB.

Usage: python3 tools/gold_diff.py <goldA> <goldB>

Reads each of the nine gold tables (`graft.tpg.Pipeline.tables`) from both
directories as parquet (Hive partition columns such as `ist_events.ym`
included) and runs `EXCEPT ALL` both ways, so a row that is missing, extra
or repeated a different number of times counts. `training_rows.row_id` is
left out: it is a generated id, not a value of the chain. Prints one line
per table and exits 1 on any difference or missing table.
"""
import os
import sys

import duckdb

TABLES = ["gtfs_routes", "gtfs_trips", "gtfs_stop_times", "gtfs_stops",
          "ist_events", "weather_obs", "features", "by_stop_line", "training_rows"]
EXCLUDE = {"training_rows": ["row_id"]}


def scan(gold, table):
    path = os.path.join(gold, table)
    if not os.path.isdir(path):
        raise SystemExit(f"{table}: missing in {gold}")
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__.strip().splitlines()[2])
    a, b = sys.argv[1:]
    con = duckdb.connect()
    failed = False
    for t in TABLES:
        sa, sb = scan(a, t), scan(b, t)
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {sa}").fetchall()]
        colsb = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {sb}").fetchall()]
        if sorted(cols) != sorted(colsb):
            print(f"{t}: columns differ: {sorted(cols)} vs {sorted(colsb)}")
            failed = True
            continue
        keep = ", ".join(f'"{c}"' for c in cols if c not in EXCLUDE.get(t, []))
        only_a, only_b = (con.execute(
            f"SELECT count(*) FROM (SELECT {keep} FROM {x} EXCEPT ALL SELECT {keep} FROM {y})"
        ).fetchone()[0] for x, y in ((sa, sb), (sb, sa)))
        n = con.execute(f"SELECT count(*) FROM {sa}").fetchone()[0]
        print(f"{t}: {n} rows, {only_a} only in A, {only_b} only in B")
        failed |= only_a > 0 or only_b > 0
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
