"""Compares each registry entry's rows with its DuckDB oracle, the way the
repository's correctness gate (tools/check.py) compares them: columns sorted
by name, rows sorted, floats rounded to 9 places, NaN equal to NaN, and no
result column of a type a Spark parquet file cannot hold. The comparison
rule itself is imported from tools/check.py; this file only points DuckDB at
the benchmark's own table and output directories."""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import TABLES, norm, oracle_type_problems, row_key  # noqa: E402


def rows_of(con, rel_sql, cols):
    rows = con.sql(f"SELECT {', '.join(cols)} FROM ({rel_sql})").fetchall()
    return sorted((tuple(norm(v) for v in r) for r in rows), key=row_key)


def compare(con, name, sql, out_dir):
    """None when the entry's rows equal its oracle's, else the reason."""
    path = os.path.join(out_dir, name)
    if not os.path.isdir(path):
        return None  # the run already failed this entry
    got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    exp = con.sql(sql)
    bad = oracle_type_problems(exp)
    if bad:
        return f"oracle result type drift {bad}"
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    cols = sorted(got.columns)
    g = rows_of(con, f"SELECT * FROM '{path}/*.parquet'", cols)
    e = rows_of(con, sql, cols)
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    diffs = [(x, y) for x, y in zip(g, e) if x != y][:2]
    return f"value mismatch, first diffs: {diffs}" if diffs else None


def check(oracle_json):
    """Failure messages for every entry whose rows differ from its oracle."""
    with open(oracle_json) as f:
        spec = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{spec['tables']}/{t}.parquet/*.parquet'")
    failures = []
    for name, sql in spec["sql"].items():
        try:
            why = compare(con, name, sql, spec["out"])
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {str(e)[:300]}"
        if why:
            failures.append(f"{name} differs from its DuckDB oracle: {why}")
    con.close()
    return failures
