#!/usr/bin/env python3
"""Run the benchmark in alternating pairs on two checkouts and compare them.

    python3 tools/pairs.py --parent ../parent --change . \\
        --workload tx_ingest --seeds 51-60 --out pairs.jsonl

For every seed, `python3 perfbench/run.py --workload W --seed S --seconds 20
--trace 0` runs once in each checkout; which side runs first alternates from
one pair to the next, so a drift of the host does not favour one side. Every
run's result line, with the `[perfbench] op` medians and the host probe its
JVM printed on stderr, is appended to the --out JSONL file (one object a
run). At the end, for each end-to-end metric of the change checkout's
BENCHMARK.json, it prints each side's median and quartiles, how many pairs
the change won (ties count for neither side) and the parent's interquartile
range, which the difference of the medians must exceed for a claimed gain.

Each checkout needs its own build: make the second one with `git clone` or
`git archive`, never by copying a checkout with its `target/` dirs. A copy
shares the original's incremental-compiler state, and building the copy can
delete the original's compiled classes.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

OP_LINE = re.compile(r"\[perfbench\] op (\S+)\s+n=\s*(\d+) median\s+([\d.]+) ms")
PROBE_LINE = re.compile(r"\[perfbench\] host probe median ([\d.]+) ms")


def parse_seeds(text):
    """'51-55,60' -> [51, 52, 53, 54, 55, 60]."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout, workload, seed):
    """One benchmark run in `checkout`: its result line (or None) and the
    op medians and host probe it printed on stderr."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "20", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    ops = {m.group(1): {"n": int(m.group(2)), "median_ms": float(m.group(3))}
           for m in OP_LINE.finditer(proc.stderr)}
    probe = PROBE_LINE.search(proc.stderr)
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        result = json.loads(lines[-1])
    else:
        sys.stderr.write(proc.stderr[-2000:])
    return {"result": result, "exit": proc.returncode, "ops": ops,
            "host_probe_ms": float(probe.group(1)) if probe else None}


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def summarize(runs, metrics):
    """Per end-to-end metric: both sides' quartiles, the change's wins over
    the pairs where both runs report it, and the parent's IQR."""
    by_seed = {}
    for r in runs:
        if r["result"] is not None:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]
    pairs = [s for s in by_seed.values() if len(s) == 2]
    print(f"{len(pairs)} complete pairs; correct: "
          f"parent {sum(p['parent']['correct'] for p in pairs)}, "
          f"change {sum(p['change']['correct'] for p in pairs)}; failed ops: "
          f"parent {sum(p['parent']['failed'] for p in pairs)}, "
          f"change {sum(p['change']['failed'] for p in pairs)}")
    if len(pairs) < 2:
        return
    print(f"{'metric':14s} {'parent median [q1, q3]':>28s} "
          f"{'change median [q1, q3]':>28s} {'wins':>6s} {'parent IQR':>11s} "
          f"{'delta':>8s}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(p["parent"]["metrics"][name]["value"],
                p["change"]["metrics"][name]["value"]) for p in pairs
               if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if len(got) < 2:
            continue
        par, chg = quartiles([a for a, _ in got]), quartiles([b for _, b in got])
        wins = sum((b < a) if lower else (b > a) for a, b in got)
        delta = (chg[0] - par[0]) / par[0] if par[0] else float("nan")
        print(f"{name:14s} {par[0]:10.2f} [{par[1]:7.2f}, {par[2]:7.2f}] "
              f"{chg[0]:10.2f} [{chg[1]:7.2f}, {chg[2]:7.2f}] "
              f"{wins:3d}/{len(got):<2d} {par[2] - par[1]:11.2f} {delta:+8.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 51-60 or 3,5,8")
    ap.add_argument("--out", required=True, help="JSONL file to append to")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    runs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            run = run_once(sides[side], args.workload, seed)
            run.update(pair=i, seed=seed, side=side, first=order[0] == side,
                       workload=args.workload)
            runs.append(run)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(run) + "\n")
            res = run["result"]
            print(f"pair {i} seed {seed} {side}: " + (
                f"correct={res['correct']} failed={res['failed']}"
                if res else f"run failed (exit {run['exit']})"), flush=True)
    summarize(runs, metrics)


if __name__ == "__main__":
    main()
