#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The first run compiles the engine
(src/main/scala) together with the benchmark (perfbench/src/main/scala) with
sbt into .bench_build/; later runs reuse that build while the sources are
unchanged. The benchmark itself runs in one JVM on local[nproc] and prints,
as its last line, one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "stamp")
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def read_spec():
    """BENCHMARK.json, checked against metrics.json: both must list the same
    metrics. Returns the workload names."""
    with open(SPEC) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "metrics.json")) as fh:
        doc = json.load(fh)
    for key in ("end_to_end", "per_layer"):
        if sorted(m["name"] for m in spec[key]) != sorted(doc[key]):
            sys.exit("perfbench: BENCHMARK.json and metrics.json list different %s metrics" % key)
    if sorted(w["name"] for w in spec["workloads"]) != sorted(doc["workloads"]):
        sys.exit("perfbench: BENCHMARK.json and metrics.json list different workloads")
    return [w["name"] for w in spec["workloads"]]


def add_opens():
    """The JDK packages Spark needs opened, shared with build.sbt."""
    with open(os.path.join(HERE, "add-opens.txt")) as fh:
        return [l.strip() for l in fh if l.strip()]


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "add-opens.txt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(spark):
    """Compile engine + benchmark unless the stamped build is current."""
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=dict(os.environ, SPARK_HOME=spark))
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("perfbench: build failed (see %s)" % log)
    with open(STAMP, "w") as fh:
        fh.write(fp)


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return home


def heap():
    """Driver heap: a quarter of RAM, clamped to [2g, 6g]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return "%dg" % max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found; run from a graft checkout")
    workloads = read_spec()
    if a.workload not in workloads:
        sys.exit("perfbench: unknown workload %r (%s)" % (a.workload, ", ".join(workloads)))
    spark = spark_home()
    build(spark)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms" + heap(), "-Xmx" + heap(), "-Djava.io.tmpdir=" + tmp]
    for p in add_opens():
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark, "jars", "*"), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--spec", SPEC, "--work-dir", os.path.join(BUILD, "work"),
            "--trace-dir", os.path.join(BUILD, "traces")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run timed out")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    # the report line (every named metric of the workload), then the result
    if len(lines) > 1:
        print(lines[-2])
    print(lines[-1])


if __name__ == "__main__":
    main()
