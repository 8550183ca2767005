#!/usr/bin/env python3
"""Record the expected fingerprints of star_etl and llm_curation.

    python3 perfbench/record.py [workload ...]

Run from the root of a checkout. For each workload the benchmark runs every
op twice (the fingerprints must agree), leaves each query's warehouse table
on disk, and this script compares every table with the query's oracle SQL
(SparkEntry.oracleSql) run by DuckDB over the same fixtures; golden-gated
queries read the committed golden/sf0.1 snapshot. Only when every table
matches are the fingerprints written to perfbench/expected/sf0.1.json.
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the build and JVM settings of the benchmark)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EXPECTED = os.path.join(run.BENCH, "expected", "sf0.1.json")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(con, table_dir, sql):
    """None when the written table equals the oracle's result exactly,
    with matching dtype kinds; otherwise what differs."""
    files = glob.glob(f"{table_dir}/*.parquet")
    if not files:
        return "no parquet part files written"
    got = canon(duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").df())
    want = canon(con.execute(sql).df())
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return f"spark {list(got.columns)} x{len(got)} vs oracle {list(want.columns)} x{len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).split("\n")[0][:200]
    kinds = [c for c in got.columns if got[c].dtype.kind != want[c].dtype.kind]
    return f"dtype kinds differ: {kinds}" if kinds else None


def record(workload, built, data):
    work = os.path.join(run.ROOT, ".bench_run", f"record-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    cmd = run.jvm_command(built, work) + [
        "--record", out, "--workload", workload, "--data", data, "--work", work]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit(f"record run of {workload} failed")
    rec = json.load(open(out))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    golden = os.path.join(run.ROOT, "golden", "sf0.1") + "/"
    bad = {}
    for q in rec["fingerprints"]:
        sql = rec["oracle_sql"].get(q)
        if sql is None:
            bad[q] = "no oracle SQL"
            continue
        sql = re.sub(r"read_parquet\('[^']*/golden/sf[0-9.]+/", f"read_parquet('{golden}", sql)
        diff = compare(con, os.path.join(rec["warehouse"], q), sql)
        print(f"{workload} {q}: {'ok' if diff is None else diff}", file=sys.stderr)
        if diff is not None:
            bad[q] = diff
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"{workload}: oracle mismatch, nothing recorded: {bad}")
    return rec["fingerprints"]


def main():
    workloads = sys.argv[1:] or ["star_etl", "llm_curation"]
    built = run.build()
    data = run.fixtures()
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    for w in workloads:
        expected[w] = record(w, built, data)
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {', '.join(workloads)} in {EXPECTED}", file=sys.stderr)


if __name__ == "__main__":
    main()
