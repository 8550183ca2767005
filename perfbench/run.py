#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The JVM's own output goes to stderr, so the last
line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
A traced run (--trace 1) also writes its spans to .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("star_etl", "llm_curation", "tx_ingest")
JVM_TIMEOUT_S = 170



def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamped build matches the sources;
    returns the runtime classpath and the engine's JVM options."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BENCH, "target", "runtime-classpath.txt")
    opts_file = os.path.join(BENCH, "target", "jvm-options.txt")

    def read_build():
        with open(cp_file) as cf, open(opts_file) as of:
            return cf.read().strip(), [o for o in of.read().splitlines() if o]

    digest = source_digest()
    if all(map(os.path.exists, (stamp, cp_file, opts_file))):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return read_build()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g", "-Dsbt.offline=true"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # offline whatever the caller's settings: the build must not reach out
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not (os.path.exists(cp_file) and os.path.exists(opts_file)):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return read_build()


def fixtures():
    data = os.path.join(BENCH, "fixtures", "sf0.1")
    if not os.path.isdir(data):
        fail(f"missing fixtures at {data}")
    return data


def jvm_command(built, work):
    """The benchmark JVM of a build() result, with the engine's JVM options
    and with its scratch files and Spark's inside `work`."""
    classpath, jvm_options = built
    return ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local"] + jvm_options + [
            "-cp", classpath, "perfbench.Main"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    built = build()
    data = fixtures()
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = jvm_command(built, work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--result", result,
        "--expected", os.path.join(BENCH, "expected", "sf0.1.json")]
    if args.trace:
        cmd += ["--trace-out", os.path.join(
            ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json")]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    try:
        if code != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited {code}")
        with open(result) as fh:
            out = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
