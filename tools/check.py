#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: load each Verify output
parquet, run the registered oracle SQL in DuckDB against the same testdata
tables, and compare rows/schema/values (exact after the queries' own
rounding), printing each oracle's elapsed seconds on its PASS/FAIL
line. Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json, math, sys, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v

def row_key(row):
    # None-safe total order: Python 3 cannot compare None with str/float.
    return tuple((v is None, v) for v in row)

# Types the driver's hash treats as drift relative to what Spark writes.
# DuckDB silently widens un-CAST integer sum()/product chains to HUGEINT
# (and some divisions to DECIMAL); Spark parquet never contains those, so
# the driver's TYPE-AWARE hash mismatches even when every value is equal.
# This is exactly how q304/q324 passed locally while failing the driver in
# round 11 — the lint below makes that class of drift fail HERE.
BAD_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT", "UINTEGER",
             "USMALLINT", "UTINYINT")

def oracle_type_problems(exp):
    """Columns of a DuckDB relation whose type can never round-trip a
    Spark parquet hash compare. Relation binding is lazy — no execution."""
    return [f"{c}: {t}" for c, t in zip(exp.columns, map(str, exp.types))
            if any(b in str(t) for b in BAD_TYPES)]

def lint(sf_dir, out_dir):
    """Type-only pass: bind every oracle SQL (lazy, no execution) and fail
    on any HUGEINT/DECIMAL/unsigned output column. Seconds, not minutes —
    run after editing any oracle string."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    import os
    sf_base = os.path.basename(sf_dir.rstrip("/"))
    n_fail = 0
    for name, sql in sorted(oracle.items()):
        sql = sql.replace("/verify_fixtures/sf0.01/",
                          f"/verify_fixtures/{sf_base}/")
        try:
            probs = oracle_type_problems(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {str(e)[:200]}")
            n_fail += 1
            continue
        if probs:
            print(f"FAIL {name}: type drift {probs}")
            n_fail += 1
    print(f"\nlint: {len(oracle) - n_fail} clean / {n_fail} fail "
          f"of {len(oracle)} oracles")
    return 1 if n_fail else 0

# an oracle slower than this is named in the run's summary line
SLOW_SECS = 30.0

def check_one(con, name, sql, out_dir):
    """(passed, detail) for one oracle against its Verify output."""
    try:
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        got_cols = sorted(got.columns)
        got_rows = sorted(
            (tuple(norm(v) for v in row)
             for row in con.sql(
                f"SELECT {', '.join(got_cols)} FROM '{out_dir}/{name}/*.parquet'").fetchall()),
            key=row_key)
    except Exception as e:
        return False, f"spark output unreadable: {e}"
    try:
        exp = con.sql(sql)
        bad_types = oracle_type_problems(exp)
        exp_cols = sorted(exp.columns)
        exp_df = con.sql(f"SELECT {', '.join(exp_cols)} FROM ({sql})")
        exp_rows = sorted(
            (tuple(norm(v) for v in row) for row in exp_df.fetchall()),
            key=row_key)
    except Exception as e:
        return False, f"oracle sql error: {str(e)[:300]}"
    if bad_types:
        return False, (f"oracle result type drift "
                       f"(driver hash will mismatch): {bad_types}")
    if got_cols != exp_cols:
        return False, f"columns {got_cols} vs {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return False, f"rows {len(got_rows)} vs {len(exp_rows)}"
    if got_rows != exp_rows:
        bad = [(g, e) for g, e in zip(got_rows, exp_rows) if g != e][:3]
        return False, f"value mismatch, first diffs: {bad}"
    return True, f"({len(got_rows)} rows)"

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # q60's oracle replays materialized stub embeddings from a fixture path
    # keyed by the DRIVER's verify sf (sf0.01). For local runs at other SFs,
    # rebase the path onto the sf under test (Verify wrote that fixture).
    import os
    sf_base = os.path.basename(sf_dir.rstrip("/"))
    n_pass = n_fail = 0
    slow = []
    for name, sql in sorted(oracle.items()):
        sql = sql.replace("/verify_fixtures/sf0.01/", f"/verify_fixtures/{sf_base}/")
        t0 = time.perf_counter()
        ok, detail = check_one(con, name, sql, out_dir)
        # each oracle's own time, so a slow one shows in the log
        secs = time.perf_counter() - t0
        if secs > SLOW_SECS:
            slow.append((name, secs))
        if ok:
            print(f"PASS {name} {detail} {secs:.2f}s", flush=True)
            n_pass += 1
        else:
            print(f"FAIL {name} {secs:.2f}s: {detail}", flush=True)
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    print(f"oracles over {SLOW_SECS:.0f}s: " + (", ".join(
        f"{n} {s:.1f}s" for n, s in sorted(slow, key=lambda x: -x[1])) or "none"))
    return 1 if n_fail else 0

if __name__ == "__main__":
    if "--lint" in sys.argv:
        argv = [a for a in sys.argv if a != "--lint"]
        sys.exit(lint(argv[1], argv[2]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
