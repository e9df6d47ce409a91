"""DuckDB check of the `reports` and `curation` results.

The harness dumps each query's warm-up result as parquet beside the
registry's oracle SQL (`SparkEntry.oracleSql`); this runs every oracle
query in DuckDB over the same generated tables and compares with the
table list and `canon` rules of `tools/parity.py`, imported from the
checkout: same column set, same row count, and equal values after
ordering columns by name and rows by value (floats rounded to 9 digits). The harness separately requires every timed execution to
reproduce the warm-up result, so a query that fails here fails for all
its executions.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from parity import TABLES, canon  # noqa: E402


def compare(sf_dir, run_dir, plant=False):
    """{query: reason} for every query whose result differs from DuckDB.
    With `plant`, one expected row of the first query is perturbed."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sqls = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    results = os.path.join(run_dir, "results")
    wrong = {}
    planted = False
    for name in sorted(os.listdir(results)):
        if name not in sqls:
            continue
        try:
            o = con.execute(sqls[name])
            o_cols = [d[0] for d in o.description]
            o_rows = o.fetchall()
            s = con.execute(f"SELECT * FROM '{results}/{name}/*.parquet'")
            s_cols = [d[0] for d in s.description]
            s_rows = s.fetchall()
        except duckdb.Error as e:
            wrong[name] = f"oracle error: {e}"
            continue
        if plant and not planted and o_rows:
            o_rows = [("planted",) + tuple(o_rows[0][1:])] + o_rows[1:]
            planted = True
        if sorted(o_cols) != sorted(s_cols):
            wrong[name] = f"columns {sorted(s_cols)} != oracle {sorted(o_cols)}"
        elif canon(o_rows, o_cols) != canon(s_rows, s_cols):
            wrong[name] = f"{len(s_rows)} rows differ from the oracle's {len(o_rows)}"
    con.close()
    return wrong
