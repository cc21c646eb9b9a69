#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: run graft.Verify at a
given SF dir, then execute each oracle SQL in DuckDB over the same parquet
tables and compare (rows, schema-width, value hash) with columns sorted by
name — the same semantics CORRECTNESS_r{N}.json reports.

Usage: python3 tools/check_oracles.py [sf_dir] [only_query ...]
"""
import json, os, shutil, subprocess, sys, tempfile, glob

import duckdb
import pandas as pd

from fresh_classes import require_fresh_classes

# The driver's DuckDB version is unknown to this repo; this emulator was
# validated against the version below. The r04→r05 hardening made every
# oracle integer-typed / explicitly-cast in its final projection, so the
# compare should hold across versions — but if the driver gate and this
# emulator ever disagree again, the version skew is the first suspect.
print(f"[emulator] duckdb {duckdb.__version__}, pandas {pd.__version__}")

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
require_fresh_classes(REPO)
OUT = tempfile.mkdtemp(prefix="graft-verify-")


def finish(code):
    """Remove the Verify output on a clean exit; keep it for a failure."""
    if code == 0:
        shutil.rmtree(OUT, ignore_errors=True)
    else:
        print(f"[emulator] Verify output kept in {OUT}")
    sys.exit(code)


cp = f"{REPO}/target/scala-2.13/classes:" + ":".join(glob.glob("/opt/spark/jars/*.jar"))
opens = ("--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED "
         "--add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED "
         "--add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED "
         "--add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED "
         "--add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED "
         "--add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED "
         "--add-opens java.base/sun.util.calendar=ALL-UNNAMED").split()
env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
print(f"[emulator] Verify -> {OUT}")
r = subprocess.run(["java", "-cp", cp] + opens + ["-Xmx8g", "graft.Verify", SF, OUT],
                   env=env, capture_output=True, text=True)
if r.returncode != 0:
    print(r.stdout[-3000:]); print(r.stderr[-3000:]); finish(1)
for line in r.stderr.splitlines():
    if "[verify]" in line:
        print(line)

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

fails = []
for name in sorted(oracle):
    if ONLY and name not in ONLY:
        continue
    pq = f"{OUT}/{name}"
    if not os.path.isdir(pq):
        print(f"{name}: SPARK OUTPUT MISSING"); fails.append(name); continue
    spark_df = con.execute(f"SELECT * FROM read_parquet('{pq}/*.parquet')").df()
    try:
        ora_df = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}"); fails.append(name); continue
    rows = len(spark_df) == len(ora_df)
    schema = sorted(spark_df.columns) == sorted(ora_df.columns)
    # dtype-skew sentinel: the driver's value hash is type-sensitive where
    # this emulator's check_dtype=False compare is not (r04 lesson: DuckDB
    # HUGEINT -> pandas float64 hashes "3.0" while Spark's int64 hashes
    # "3"). An int-vs-float skew on any shared column is a driver-gate
    # failure waiting to happen, so surface it loudly.
    if schema:
        for c in spark_df.columns:
            sk, ok_ = spark_df[c].dtype.kind, ora_df[c].dtype.kind
            if {sk, ok_} == {"i", "f"} or "O" in (sk, ok_) and sk != ok_:
                print(f"{name}: TYPE-SKEW on '{c}': spark={spark_df[c].dtype} "
                      f"oracle={ora_df[c].dtype}")
    ok = rows and schema
    if ok:
        a, b = canon(spark_df), canon(ora_df)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            hash_ok = True
        except AssertionError as e:
            hash_ok = False
            msg = str(e).split("\n")[0:6]
            # first differing cell for debugging
            diff = (a != b) & ~(a.isna() & b.isna())
            cells = [(i, c, a.at[i, c], b.at[i, c])
                     for c in a.columns for i in a.index[diff[c]][:2]]
            print(f"{name}: HASH MISMATCH {msg} first-diffs={cells[:4]}")
        ok = hash_ok
    else:
        print(f"{name}: rows {len(spark_df)} vs {len(ora_df)}, "
              f"schema {sorted(spark_df.columns)} vs {sorted(ora_df.columns)}")
    print(f"{name}: {'PASS' if ok else 'FAIL'}")
    if not ok:
        fails.append(name)

print(f"\n{'ALL GREEN' if not fails else 'FAILURES: ' + ', '.join(fails)}")
finish(1 if fails else 0)
