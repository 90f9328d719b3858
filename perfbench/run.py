#!/usr/bin/env python3
"""Build the program with the benchmark and run one workload.

    python3 perfbench/run.py --workload interactive|ingest|search \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark's (sbt, offline) into .bench_build/;
later runs reuse the build while no source changed. The JVM writes its
result and, traced, its spans under .bench_build/last/<workload>-<mode>/;
this script prints the run's report and, as its last line, the result
object {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("interactive", "ingest", "search")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala here: run from the root of a checkout of the program")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export Compile/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def heap():
    """3 GiB, or a quarter of the machine's memory when that is less."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{max(1024, min(3072, kb // 4096))}m"
    except (OSError, StopIteration):
        return "3g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    cp = build()
    mode = "traced" if a.trace else "untraced"
    out = os.path.join(BUILD, "last", f"{a.workload}-{mode}")
    work = os.path.join(BUILD, "work")
    for d in (out, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    mem = heap()
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out, "--work", work,
              "--cache", os.path.join(BUILD, "inputs")])
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out, "stderr.log"), "w") as fh:
        fh.write(stderr)
    result_file = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_file):
        sys.stderr.write(stderr[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(result_file) as fh:
        r = json.load(fh)
    sys.stdout.write(stdout)
    for k, v in r["info"].items():
        print(f"info {k} = {json.dumps(v)}")
    for cause, n in r["failures"].items():
        print(f"failure x{n}: {cause}")
    rate = r["failed"] / r["attempted"] if r["attempted"] else 0.0
    print(f"error_rate = {rate:.6f} ({r['failed']} of {r['attempted']} attempted)")
    for name, m in r["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
