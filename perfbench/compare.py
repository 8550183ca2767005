#!/usr/bin/env python3
"""Time the count() sink against full materialization for a few queries.

    python3 perfbench/compare.py q01_pricing_summary,q55_profile_part [rounds]

Run from the root of a checkout. Prints, per query, the median of the
rounds for count(), a noop write of every column, and
Warehouse.overwriteTable, each with its plan-builder call, after one
untimed round.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the build and JVM settings of the benchmark)


def main():
    queries = sys.argv[1]
    rounds = sys.argv[2] if len(sys.argv) > 2 else "5"
    built = run.build()
    work = os.path.join(run.ROOT, ".bench_run", "compare")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "compare.json")
    cmd = run.jvm_command(built, work) + [
        "--compare", queries, "--rounds", rounds, "--data", run.fixtures(),
        "--work", work, "--result", out]
    try:
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            sys.exit("compare run failed")
        rows = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'query':28s} {'count()':>9s} {'noop':>9s} {'warehouse':>10s} {'noop/count':>10s}")
    for r in rows:
        print(f"{r['query']:28s} {r['count_ms']:9.0f} {r['noop_ms']:9.0f} "
              f"{r['warehouse_ms']:10.0f} {r['noop_ms'] / r['count_ms']:10.1f}")


if __name__ == "__main__":
    main()
