#!/usr/bin/env python3
"""Benchmark of the OpenAQ medallion pipeline (see BENCHMARK.json).

    python3 pipebench/run.py --workload <full_reload|daily_increment|all>
                             --seed N [--seconds S] [--trace 0|1]

Run from the repository root. It builds the program from source, makes
the inputs from the seed, runs the workload in one JVM on local[N]
(N = min(4, cores)), checks every output against the oracle outside the
timed region, prints each metric by name with its unit, and prints as its
last line one JSON object {correct, attempted, failed, metrics}. It exits
non-zero when an output is wrong. `--workload all` runs every workload
and then the traced run, with the same seed.

An untraced run sets up once (session start, the history load of
daily_increment, two untimed warm-up ops; setup_s is the time from the
JVM's start to the first timed op), then runs timed ops until S seconds
have passed (at least one; an op takes longer than the default S of 1,
so by default a run times exactly one op). See
pipebench/BASELINE.md for inputs, definitions and the first numbers.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import lake  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import tables  # noqa: E402

WORKLOADS = metrics.PIPELINE
HISTORY_DAYS = 3
# seconds that input generation and the JVM may take together, counted
# after the build; the oracle runs after them, and the whole run must end
# within 180 s
DEADLINE_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(args, work, started):
    """Run one workload in a fresh JVM; return its run document."""
    cores = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "run.json")
    # a fixed heap size keeps the resident-set peak independent of how far
    # the collector chose to grow the heap in this particular run
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", build.classpath(), "pipebench.PipeBench",
            "--workload", args.workload, "--lake", os.path.join(work, "lake"),
            "--tables", os.path.join(work, "tables"), "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
            "--cores", str(cores), "--seed", str(args.seed),
            "--history", str(HISTORY_DAYS)])
    # The benchmark may write only inside its checkout, so streaming drains
    # and stored indexes keep their scratch under java.io.tmpdir there
    # instead of the program's default of /dev/shm. This moves the stream.*
    # and ext.x_ann_ivfpq_stored figures; see BASELINE.md.
    env = dict(os.environ, GRAFT_DRAIN_SCRATCH="tmp")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("pipebench: the JVM ran past the deadline")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"pipebench: the JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def check_pipeline(work, manifest, wl, rec):
    """Oracle problems of one pipeline op record (its gold tables, and its
    check results when the op ran the suite)."""
    days = range(len(manifest["days"]))
    if wl == "full_reload":
        history, applied = days, []
    else:
        history, applied = range(HISTORY_DAYS), rec["applied"]
    exp = oracle.expected_gold(os.path.join(work, "lake"), manifest, history, applied)
    problems, digests = oracle.compare_gold(os.path.join(rec["dir"], "gold"), exp)
    for table, d in sorted(digests.items()):
        print(f"# {wl} {table} digest {d}")
    if "checks" in rec:
        problems += oracle.compare_checks(rec["checks"], oracle.expected_checks(manifest, days))
    return problems


def run_one(args):
    build.build()
    started = time.time()
    root = os.path.join(build.build_dir(), "runs")
    work = os.path.join(root, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        manifest = lake.generate(os.path.join(work, "lake"), args.seed)
        if args.trace:
            tables.generate(os.path.join(work, "tables"), args.seed)
        doc = run_jvm(args, work, started)
        if args.trace:
            values = metrics.traced_metrics(doc)
            units = dict(metrics.per_layer_catalogue())
            reg = doc["scenarios"]["registry_mix"]
            # the DuckDB twins run beside the (pure Python) pipeline oracle
            with ThreadPoolExecutor(1) as pool:
                registry = pool.submit(oracle.compare_registry, os.path.join(work, "tables"),
                                       reg["results"], reg["oracle_sql"])
                per_op = [check_pipeline(work, manifest, wl, doc["scenarios"][wl])
                          for wl in WORKLOADS]
                per_op.append(registry.result())
            attempted, failed = 3, 0
        else:
            values, attempted, failed = metrics.timed_metrics(doc)
            units = {n: u for n, u, _ in metrics.END_TO_END}
            ok = [o for o in doc["ops"] if o.get("ok")]
            # the last op's tables are kept for the oracle; every op's check
            # results are known to it
            expected = oracle.expected_checks(manifest, range(len(manifest["days"])))
            per_op = [oracle.compare_checks(o["checks"], expected) if "checks" in o else []
                      for o in ok[:-1]]
            per_op += [check_pipeline(work, manifest, args.workload, o) for o in ok[-1:]]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    problems = [p for op in per_op for p in op]
    mismatches = sum(1 for op in per_op if op)
    for p in problems:
        print(f"MISMATCH {p}")
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {attempted} ops attempted")
    for name in sorted(values):
        print(f"{name:58s} {values[name]:>16.6g} {units[name]}")
    print(f"{'fail_ratio':58s} {failed / attempted:>16.6g} ratio")
    print(f"{'mismatches':58s} {mismatches:>16d} count")
    result = {"correct": not problems and failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": values[n], "unit": units[n]} for n in sorted(values)}}
    print(json.dumps(result), flush=True)
    return result["correct"]


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if args.workload == "all":
        runs = [(wl, 0) for wl in WORKLOADS] + [(WORKLOADS[0], 1)]
        ok = all([run_one(argparse.Namespace(**{**vars(args), "workload": wl, "trace": tr}))
                  for wl, tr in runs])
    else:
        ok = run_one(args)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
