#!/usr/bin/env python3
"""Per-change benchmark of the retail engine: one command per workload.

    python3 perfbench/run.py --workload <retail|ext-heavy>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Compiles `src/main/scala` and the
benchmark's Scala sources with the Scala compiler shipped in the Spark
jars (cached under `.bench_build/perfbench/<source hash>`), runs the
workload in a fresh JVM, checks its outputs, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ["retail", "ext-heavy"]
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", p + "=ALL-UNNAMED")]
CHILD_TIMEOUT_S = 170


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        sys.exit("perfbench: set SPARK_HOME; build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        sys.exit("perfbench: no program sources under src/main/scala; run from the repo root")
    return main + bench


def build(srcs, jars):
    """Compiles once per distinct source set; returns the class dir."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(ROOT, ".bench_build", "perfbench", h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "OK")):
        return out
    classes = os.path.join(out, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = jars + "/*"
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    open(os.path.join(out, "OK"), "w").close()
    return out


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except OSError:
        return 0, 0


def run_workload(classes, jars, args):
    work = os.path.join(ROOT, ".bench_build", "perfbench", "work",
                        "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    cmd = (["java"] + ADD_OPENS +
           ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dperfbench.digests=" + os.path.join(HERE, "ext_digests.json"),
            "-Dperfbench.data=" + os.path.join(HERE, "data", "sf0.01"),
            "-cp", os.path.join(classes, "classes") + ":" + jars + "/*",
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", record_path])
    spawn = time.time()
    ticks0 = cpu_ticks()
    child = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        rc = "timeout"
    try:
        if rc != 0:
            sys.exit("perfbench: workload JVM failed (%s)" % rc)
        with open(record_path) as fh:
            record = json.load(fh)
        ticks1 = cpu_ticks()
        # the share of the machine's CPU time the hypervisor gave to
        # other guests while the workload ran
        record["context"]["steal_frac"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return record, spawn


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="also write the full record and all metrics here")
    args = ap.parse_args()

    srcs = sources()
    jars = spark_jars()
    record, spawn = run_workload(build(srcs, jars), jars, args)
    e2e = metrics.end_to_end(record, spawn)
    layers = metrics.per_layer(record) if args.trace else {}
    chosen = layers if args.trace else e2e
    if args.record:
        with open(args.record, "w") as fh:
            json.dump({"record": record, "end_to_end": e2e, "per_layer": layers,
                       "named": metrics.named(record)}, fh)
    attempted, failed = record["attempted"], record["failed"]
    print(json.dumps({"context": record["context"], "failures": record["failures"],
                      "named": metrics.named(record)}), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
