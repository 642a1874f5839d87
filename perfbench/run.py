#!/usr/bin/env python3
"""Benchmark of the graft Spark engine, driven from outside through its
public entry points (SparkEntry.queries, the CivicPipeline builders,
CivicPipeline.ingest, EventPipeline.mergeBatchSink).

  python3 perfbench/run.py --workload heavy_kernels|civic_refresh
                           --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark's JVM program from source with sbt (perfbench/build.sbt); later
runs reuse the
build while the sources are unchanged. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer metrics (see README.md).
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import civicgen  # noqa: E402
import metrics  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
WARM_UP_DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "queries_sf0.01.json")

# One query per kernel family: PPJoin, MinHash/LSH with Par arms,
# connected components, PageRank, IVF kNN. A run holds an untimed warm-up
# pass of them on sf0.001 and a timed pass on sf0.01 (about 35 s together
# on 4 cores), so the set stays this small.
HEAVY_KERNELS = [
    "q225_setsim_char_exact", "q191_lsh_eval", "q87_merge_components",
    "q99_pagerank", "q20_ann_ivf",
]
WORKLOADS = ["heavy_kernels", "civic_refresh"]
CIVIC_BATCHES = 4
RUN_TIMEOUT = 160


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Tier-1's formula: half of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def source_stamp():
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "/target" not in d and "/project/project" not in d)
        for f in paths:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are missing; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700)
    with open(log) as f:
        lines = [x.strip() for x in f if "scala-2.13/classes" in x
                 and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def plan_for(workload, seed, work):
    rng = random.Random(seed)
    if workload == "civic_refresh":
        corpus = os.path.join(work, "corpus")
        truth = civicgen.generate(corpus, seed, CIVIC_BATCHES)
        plan = {"workload": workload, "corpus": corpus, "as_of": civicgen.AS_OF,
                "batches": [{"dir": b["dir"],
                             "lookups": [{"kind": x["kind"], "key": x["key"]}
                                         for x in b["lookups"]]}
                            for b in truth["batches"]]}
        return plan, truth
    names = list(HEAVY_KERNELS)

    def shuffled():
        xs = list(names)
        rng.shuffle(xs)
        return xs
    plan = {"workload": workload, "data": DATA, "warm_up_data": WARM_UP_DATA,
            "passes": [shuffled() for _ in range(40)]}
    return plan, None


def batch_bytes(corpus):
    """Mean raw input bytes of one change batch."""
    root = os.path.join(corpus, "batches")
    sizes = [sum(os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(os.path.join(root, b)) for f in fs)
             for b in sorted(os.listdir(root))]
    return sum(sizes) / len(sizes)


def launch(classpath, plan, args, work):
    plan_file = os.path.join(work, "plan.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    record_file = os.path.join(work, "record.json")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens +
           [f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main",
            "--plan", plan_file, "--out", record_file,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", work,
            "--launch-ms", str(int(time.time() * 1000))])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run timed out")
    if code != 0 or not os.path.exists(record_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with code {code}")
    with open(record_file) as f:
        return json.load(f)


def evaluate(record, truth, trace, incoming):
    """Checks outputs and computes the metrics; returns the result line."""
    ops = record["ops"]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    problems = [(o["name"], o["error"]) for o in ops if not o["ok"]]
    if truth is None:
        with open(EXPECTED) as f:
            expected = json.load(f)
        bad = metrics.check_digests(record["digests"], expected)
    else:
        checks, bad = metrics.check_civic(record, truth)
        attempted += checks
    failed += len(bad)
    problems += bad
    for what, why in problems:
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr)
    if trace:
        values = metrics.per_layer(record, truth, incoming)
        values["ops_failed_frac"] = failed / attempted
        units = dict(metrics.PER_LAYER)
    else:
        values = metrics.end_to_end(record)
        units = dict(metrics.END_TO_END)
    return metrics.result_line(failed == 0, attempted, failed, values, units)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory (record, logs, spans)")
    args = ap.parse_args()

    classpath = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan, truth = plan_for(args.workload, args.seed, work)
        incoming = batch_bytes(plan["corpus"]) if truth else 0
        record = launch(classpath, plan, args, work)
        result = evaluate(record, truth, args.trace, incoming)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
