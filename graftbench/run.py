#!/usr/bin/env python3
"""Benchmark entry point: builds the benchmark (and the graft library it
depends on) from source with sbt, then runs one workload in one JVM.

    python3 graftbench/run.py --workload engine_slice --seed 1 --seconds 20 --trace 0

Run it from the repository root. It prints one line per metric and, as
its last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. With `--trace 1` the metrics are the per-layer ones, and the
spans go to `graftbench/traces/<workload>.json`. `--workload all` runs
every workload in turn (one JVM each) and prefixes metric names with the
workload. Exit code 0 means every output check passed; 1 means a check
failed; 2 means the benchmark could not build or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("engine_slice", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would pass (JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = []
    for base, subdirs in ((BENCH, ("src",)), (ROOT, ("src/main",))):
        for sub in subdirs:
            for dirpath, dirnames, names in os.walk(os.path.join(base, sub)):
                dirnames.sort()
                files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in ("build.sbt", "project/build.properties"):
        files += [os.path.join(BENCH, f), os.path.join(ROOT, f)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt offline unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the graft sources are not next to the benchmark; run from a full checkout")
    stamp = os.path.join(WORK, "build", "classpath.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos +
        " -Dsbt.offline=true -Xmx2g")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"sbt failed to run: {e}")
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def run_one(cp, fixture, workload, seed, seconds, trace):
    """Runs one workload in its own JVM; returns its result dict."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cores = str(min(4, os.cpu_count() or 1))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", run_dir, "--fixture", fixture, "--out", out]
    if trace:
        cmd += ["--trace-out", os.path.join(BENCH, "traces", f"{workload}.json")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log_path = os.path.join(WORK, f"jvm-{workload}.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"the run did not finish in {RUN_TIMEOUT_S} s; see {log_path}")
    if rc != 0 or not os.path.isfile(out):
        die(f"the benchmark JVM exited with {rc}; see {log_path}")
    with open(out) as fh:
        res = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {workload} seed {seed}: {res['ops']} ops in "
          f"{time.time() - t0:.1f} s, jobs per op {res['jobs_per_op']}")
    for note in res["notes"]:
        print(f"note: {note}")
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for name, m in res["info"].items():
        print(f"info {name} {m['value']:.6g} {m['unit']}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    fixture = os.path.join(BENCH, "fixture")
    if not os.path.isfile(os.path.join(fixture, "expected.json")):
        die("the query fixture is missing")
    cp = build()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {w: run_one(cp, fixture, w, args.seed, args.seconds, args.trace) for w in names}
    if len(results) == 1:
        metrics = results[args.workload]["metrics"]
    else:
        metrics = {f"{w}.{n}": m for w, r in results.items() for n, m in r["metrics"].items()}
    correct = all(r["correct"] for r in results.values())
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
