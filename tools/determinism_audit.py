#!/usr/bin/env python3
"""Determinism audit: run graft.Verify TWICE at the same SF dir and compare
every query's canonicalized output (sorted columns, sorted rows, exact
values) across the two runs. Any mismatch is a query whose result depends
on task scheduling / merge order — the class of failure that makes a
hash-oracled driver gate flake (the t-digest rank-gate lesson).

Usage: python3 tools/determinism_audit.py [sf_dir]
"""
import glob, os, shutil, subprocess, sys, tempfile

import duckdb
import pandas as pd

from fresh_classes import require_fresh_classes

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
require_fresh_classes(REPO)

cp = f"{REPO}/target/scala-2.13/classes:" + ":".join(glob.glob("/opt/spark/jars/*.jar"))
opens = ("--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED "
         "--add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED "
         "--add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED "
         "--add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED "
         "--add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED "
         "--add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED "
         "--add-opens java.base/sun.util.calendar=ALL-UNNAMED").split()
env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))


def finish(code):
    """Remove both runs' output on a clean exit; keep them for a failure."""
    if code == 0:
        shutil.rmtree(a, ignore_errors=True)
        shutil.rmtree(b, ignore_errors=True)
    else:
        print(f"[determinism] run outputs kept in {a} and {b}")
    sys.exit(code)


def run_verify(out):
    r = subprocess.run(["java", "-cp", cp] + opens + ["-Xmx8g", "graft.Verify", SF, out],
                       env=env, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:]); finish(1)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


a = tempfile.mkdtemp(prefix="graft-det-a-")
b = tempfile.mkdtemp(prefix="graft-det-b-")
print(f"[determinism] run 1 -> {a}")
run_verify(a)
print(f"[determinism] run 2 -> {b}")
run_verify(b)

con = duckdb.connect()
names = sorted(d for d in os.listdir(a) if os.path.isdir(os.path.join(a, d)))
diffs = []
for name in names:
    if not os.path.isdir(os.path.join(b, name)):
        print(f"{name}: MISSING IN RUN 2"); diffs.append(name); continue
    da = con.execute(f"SELECT * FROM read_parquet('{a}/{name}/*.parquet')").df()
    db = con.execute(f"SELECT * FROM read_parquet('{b}/{name}/*.parquet')").df()
    if len(da) != len(db) or sorted(da.columns) != sorted(db.columns):
        print(f"{name}: SHAPE DIFFERS {da.shape} vs {db.shape}")
        diffs.append(name); continue
    try:
        pd.testing.assert_frame_equal(canon(da), canon(db),
                                      check_dtype=False, check_exact=True)
    except AssertionError as e:
        print(f"{name}: VALUES DIFFER {str(e).splitlines()[0:3]}")
        diffs.append(name)

print(f"\n[determinism] {len(names)} queries, "
      f"{'ALL DETERMINISTIC' if not diffs else 'NON-DETERMINISTIC: ' + ', '.join(diffs)}")
finish(1 if diffs else 0)
