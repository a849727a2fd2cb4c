"""DuckDB oracle check for the query_paths workload: runs each path's oracle
SQL (from `SparkEntry.oracleSql`) over the corpus and compares its result
with the Spark output, sorted by column name and row value, cell by cell.
The comparison is the repository's own (tools/oracle_check.py).
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from oracle_check import TABLES, canon, eq  # noqa: E402


def check(corpus_dir, out_dir, oracle_file):
    """Returns [(query, ok, detail, spark_rows)] for every entry of
    `oracle_file` ({query: oracle SQL}); each output is `out_dir/<query>`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    oracle = json.load(open(oracle_file))
    results = []
    for name, sql in sorted(oracle.items()):
        try:
            d = con.execute(sql)
            dc, dr = canon(d.fetchall(), [c[0] for c in d.description])
            s = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            sc, sr = canon(s.fetchall(), [c[0] for c in s.description])
        except Exception as e:  # an oracle that cannot run is a failed check
            results.append((name, False, f"exec error: {e}", 0))
            continue
        if dc != sc:
            results.append((name, False, f"columns oracle={dc} spark={sc}", len(sr)))
        elif len(dr) != len(sr):
            results.append((name, False, f"rows oracle={len(dr)} spark={len(sr)}", len(sr)))
        else:
            bad = sum(not eq(x, y) for a, b in zip(dr, sr) for x, y in zip(a, b))
            results.append((name, bad == 0, f"{len(dr)} rows, {bad} cell diffs", len(sr)))
    con.close()
    return results
