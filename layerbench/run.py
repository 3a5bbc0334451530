#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one command, two workloads.

Usage (from the repository root):
  python3 layerbench/run.py --workload urlcount_large|curation
                            --seed N --seconds S --trace 0|1 [--record PATH]

Builds the engine and the benchmark (layerbench/build.py), draws the
workload's input tables from the seed (layerbench/gen_data.py), runs
graft.layerbench.Main on `local[<cores>]` for S seconds of timed passes,
checks each query's full result against its DuckDB oracle twin with the
repository's exact comparison rule (tools/compare.py), and prints one
JSON line last: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. --record copies the run's full record (per-query
rows, per-layer totals, spans, resolved SQL conf) to PATH.

Everything the run writes stays under .bench_build/ in the working
directory.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import gen_data  # noqa: E402

DEADLINE_S = 170

# The JVM options of the repository's forked runs (build.sbt javaOptions),
# with a smaller heap cap. The heap starts small and grows with use, so
# resident memory follows what the run allocates.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx2g",
    "-XX:ReservedCodeCacheSize=512m", "-XX:-UseDynamicNumberOfCompilerThreads",
    "-XX:LoopStripMiningIter=100", "-XX:+ExplicitGCInvokesConcurrent"]


def generate(build_dir, workload, seed):
    """Returns the workload's table directory, generated once per seed and
    version of the generator."""
    with open(os.path.join(BENCH, "gen_data.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    d = os.path.join(build_dir, "data", f"{workload}-{seed}-{version}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"),
                        "--workload", workload, "--seed", str(seed), "--out", tmp], check=True)
        os.rename(tmp, d)
    return d


def oracle_check(root, data, results):
    """Per-query verdicts of tools/compare.py: {query: passed}."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "compare.py"), data, results],
                       capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?(\s|$)", line)
        if m:
            verdicts[m.group(2)] = m.group(1) == "PASS"
    if not verdicts:
        sys.stderr.write(p.stdout + p.stderr)
    return verdicts


def main():
    ap = argparse.ArgumentParser(description="layered benchmark of the graft engine")
    ap.add_argument("--workload", required=True, choices=sorted(gen_data.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="copy the full run record to this path")
    args = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "compare.py")):
        sys.exit("layerbench: run from the repository root (tools/compare.py not found)")
    build_dir = os.path.join(root, ".bench_build")
    classes = build.ensure(root, build_dir)
    data = generate(build_dir, args.workload, args.seed)

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_SCRATCH_DIR=tmp)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-cp", build.classpath(classes), "graft.layerbench.Main",
        "--workload", args.workload, "--data", data, "--out", run_dir,
        "--seconds", str(args.seconds), "--seed", str(args.seed), "--trace", str(args.trace)]
    budget = DEADLINE_S - (time.monotonic() - t_start)
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            subprocess.run(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=budget, check=True)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        with open(os.path.join(run_dir, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        sys.exit(f"layerbench: the benchmark JVM failed: {e}")

    with open(os.path.join(run_dir, "record.json")) as f:
        record = json.load(f)
    verdicts = oracle_check(root, data, os.path.join(run_dir, "results"))
    mismatched = sorted(q for q in record["oracle_checked"] if not verdicts.get(q, False))
    failed = len(record["failures"]) + len(mismatched)
    attempted = record["samples_attempted"] + len(record["oracle_checked"])
    broken = [b for p in record["reconcile"] for b in p["broken"]]
    record.update(mismatched=mismatched, failed_frac=failed / attempted)
    correct = failed == 0 and not broken and not record["warmup_failures"]

    # the metric names and units are BENCHMARK.json's
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kind, values = ("per_layer", record["per_layer"]) if args.trace else ("end_to_end", record["end_to_end"])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    if args.record:
        os.makedirs(os.path.dirname(os.path.abspath(args.record)), exist_ok=True)
        with open(args.record, "w") as f:
            # paths relative to the checkout, so records compare across machines
            f.write(json.dumps(record, indent=1, sort_keys=True).replace(root + os.sep, "") + "\n")
    for what in ("failures", "warmup_failures"):
        for q, msg in record[what].items():
            print(f"{what[:-1]}: {q}: {msg}", file=sys.stderr)
    for q in mismatched:
        print(f"oracle mismatch: {q}", file=sys.stderr)
    for b in broken:
        print(f"reconcile: {b}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
