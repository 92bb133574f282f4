#!/usr/bin/env python3
"""graft's benchmark: one seeded workload per run, one JVM on Spark
local[N] (N = cores of the box), one client in a closed loop.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload lake_write|read \
        --seed N --seconds S --trace 0|1

`--workload lake_write_split` runs lake_write with massageFile's default
singleFile=false. It is not one of the benchmark's workloads: it
reproduces a known ingest defect (perfbench/README.md) and reports
correct=false while that defect stands.

Builds the harness if its sources changed, generates the workload's
inputs from the seed, runs the JVM, checks every answer against an
independent DuckDB/Python model, and prints a report. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
See perfbench/README.md for the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["lake_write", "read"]
# workload name -> the workload it runs, with the ingest's singleFile flag
VARIANTS = {"lake_write_split": "lake_write"}
JVM_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


TARGET = os.path.join(HERE, "target")


def build():
    """Compile graft's main sources and the harness with sbt, once per
    source state; returns the runtime classpath."""
    cp_file, stamp = os.path.join(TARGET, "classpath.txt"), os.path.join(TARGET, "build.stamp")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=600)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


# Wall seconds of one deck at local[4] on a calm 4-vCPU box
DECK_S = {"lake_write": 23, "lake_write_split": 23, "read": 8}


def plan_for(workload, in_dir, seed, seconds, trace):
    """The decks --seconds holds, rounded and at least one: a fixed number,
    so that every run of a workload times the same ops whatever the box's
    speed. A traced run plans 3 (off-on-off) and times at least those."""
    timed = max(1, int(seconds / DECK_S[workload] + 0.5))
    decks = max(timed, 3) if trace else timed
    if workload == "read":
        plan = gen.plan_read(in_dir, seed, decks=decks)
    else:
        plan = gen.plan_lake_write(in_dir, seed, decks=decks, single_file=workload == "lake_write")
    plan["timed_decks"] = timed
    return plan


def run_jvm(classpath, plan_path, work, out, trace, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main", "--plan", plan_path, "--work", work,
              "--out", out, "--trace", str(trace), "--cores", str(cores)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("harness JVM timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness JVM failed (exit {rc})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + list(VARIANTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("graft's sources (src/main/scala) are not beside perfbench/")
    classpath = build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(in_dir)
    os.makedirs(out)
    try:
        t0 = time.time()
        plan = plan_for(a.workload, in_dir, a.seed, a.seconds, a.trace)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        cores = os.cpu_count() or 1
        run_jvm(classpath, plan_path, work, out, a.trace, cores)
        run = metrics.load_run(out)
        workload = VARIANTS.get(a.workload, a.workload)
        wrong, changed = check.check(workload, plan, run)
        report, final = metrics.summarise(workload, run, wrong, changed, a.trace)
        for line in report:
            print(line)
        print(json.dumps(final))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
