#!/usr/bin/env python3
"""Local pre-flight for the correctness gate: run each oracle SQL of
Verify's oracle_sql.json in DuckDB against the same testdata and compare with
the Verify parquet dumps (sorted columns by name, value-level compare).

Exits 1 when any oracle result is not OK (a missing Spark output included)
or when verify_failed.json names a query."""
import json, sys, glob, os
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
for name, sql in sorted(oracle.items()):
    spark_path = f"{out_dir}/{name}"
    if not os.path.isdir(spark_path):
        results[name] = "MISSING_SPARK_OUTPUT"
        continue
    try:
        got = con.sql(f"SELECT * FROM '{spark_path}/*.parquet'").df()
        want = con.sql(sql).df()
    except Exception as e:
        results[name] = f"ORACLE_ERROR: {e}"
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        results[name] = f"SCHEMA_MISMATCH: spark={list(got.columns)} duck={list(want.columns)}"
        continue
    if len(got) != len(want):
        results[name] = f"ROWS_MISMATCH: spark={len(got)} duck={len(want)}"
        continue
    # dtype compare — the driver's hash is dtype-SENSITIVE, so a value-equal
    # result can still fail it (r6's q_pack_sequences: DuckDB sum() widens
    # BIGINT to HUGEINT -> pandas object/float vs spark int64). Any oracle
    # aggregate must be CAST so both engines land on the same pandas dtype.
    dt_bad = [(c, str(got[c].dtype), str(want[c].dtype))
              for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
    if dt_bad:
        results[name] = f"DTYPE_MISMATCH (driver hash would fail): {dt_bad}"
        continue
    # value compare, column-wise, with dtype normalization
    bad = None
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            import pandas as pd
            a2 = a.astype(object).where(pd.notnull(a), None)
            b2 = b.astype(object).where(pd.notnull(b), None)
            neq = [i for i, (x, y) in enumerate(zip(a2, b2)) if x != y and not (x is None and y is None)]
            if neq:
                i = neq[0]
                bad = f"VALUE_MISMATCH col={c} row={i}: spark={a2[i]!r} duck={b2[i]!r} ({len(neq)} diffs)"
                break
        except Exception as e:
            bad = f"COMPARE_ERROR col={c}: {e}"
            break
    results[name] = bad or "OK"

n_ok = sum(1 for v in results.values() if v == "OK")
for name, v in sorted(results.items()):
    print(f"{'✓' if v == 'OK' else '✗'} {name}: {v}")
print(f"\n{n_ok}/{len(results)} oracle-matched")
# rows-only queries (dumped by Verify, absent from oracle_sql.json)
for d in sorted(glob.glob(f"{out_dir}/q_*")):
    name = os.path.basename(d)
    if name not in oracle:
        n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
        print(f"  rows-only {name}: {n} rows")
# queries that THREW inside Verify (absent above, loud here — the r9
# q_stream_dedup failure mode: a crash must not read as a small run)
fail_path = f"{out_dir}/verify_failed.json"
failed = json.load(open(fail_path)) if os.path.exists(fail_path) else {}
for name, msg in sorted(failed.items()):
    print(f"  !! VERIFY-CRASHED {name}: {msg[:200]}")
if failed or n_ok != len(results):
    sys.exit(1)
