#!/usr/bin/env python3
"""Benchmark of the SOM estimator and a fixed catalog mix.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload som_train --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest

The first run builds the library's sources together with the benchmark's
own code (perfbench/build.sbt, sbt offline) into .bench_build/ and reuses the
build while the sources are unchanged. Each run starts one local-mode JVM
with one client issuing one call at a time, checks every output, and prints
as its last stdout line one JSON object with the keys correct, attempted,
failed and metrics. Lines before it, starting with '#', describe the run.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE = os.path.join(HERE, "oracle", "sf0.01.tsv")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("som_train", "som_score", "catalog_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 540  # with the archive run and one run, within 900 s

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library's sources (src/main/scala/graft) are not in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(ARCHIVE):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "compile", "export Compile/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    classpath = lines[-1].strip()
    build_class_archive(classpath)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def build_class_archive(classpath):
    """Records the classes one catalog_mix run loads into a class-data-sharing
    archive that every later JVM maps, which halves JVM and session start.
    A build without the archive fails, so that every run starts the same way."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    out = os.path.join(BUILD, "archive-run.json")
    log = os.path.join(BUILD, "logs", "archive.log")
    code = run_jvm(classpath, "perfbench.Main",
                   ["--workload", "catalog_mix", "--seed", "1", "--seconds", "0", "--trace", "0",
                    "--cores", str(cores()), "--data", DATA, "--oracle", ORACLE, "--out", out],
                   log, jvm_flags=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if code != 0 or not os.path.exists(ARCHIVE):
        fail(f"class archive not recorded (exit {code}); see {log}")


def java_cmd(classpath, run_dir, main, args, jvm_flags=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(run_dir, "spark"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "java.io.tmpdir": os.path.join(run_dir, "tmp"),
        "graft.repo.root": os.path.join(run_dir, "root"),
        "derby.system.home": os.path.join(run_dir, "derby"),
        "perfbench.launch.ms": str(int(time.time() * 1000)),
    }
    for d in ("spark", "tmp", "root"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # -Xshare:on: a missing, stale or rejected archive fails the run instead
    # of starting it without the archive
    flags = list(jvm_flags) or [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on"]
    # a fixed heap, touched at start, so that peak RSS does not depend on how
    # much of the heap the collector happened to use
    return ([java] + opens + ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"] + flags
            + [f"-D{k}={v}" for k, v in props.items()] + ["-cp", classpath, main] + args)


def run_jvm(classpath, main, args, log_path, timeout=JVM_TIMEOUT_S, jvm_flags=()):
    """Runs one JVM in a scratch directory under .bench_build, waits for it
    (killing it on timeout) and removes the scratch directory."""
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(java_cmd(classpath, run_dir, main, args, jvm_flags), cwd=run_dir,
                                 stdout=log, stderr=subprocess.STDOUT)
            try:
                return p.wait(timeout=timeout)
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def cores():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    for p in (DATA, ORACLE):
        if not os.path.exists(p):
            fail(f"missing {os.path.relpath(p, ROOT)}")
    classpath = build()
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)

    if a.selftest:
        log = os.path.join(logs, "selftest.log")
        code = run_jvm(classpath, "perfbench.SelfTest",
                       ["--data", DATA, "--benchmark", os.path.join(ROOT, "BENCHMARK.json")], log)
        with open(log) as f:
            sys.stdout.write("".join(l for l in f if l.startswith(("PASS", "FAIL"))))
        sys.exit(code)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(BUILD, "results", f"{tag}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()), "--data", DATA,
            "--oracle", ORACLE, "--out", out]
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        args += ["--spans", os.path.join(BUILD, "traces", f"{tag}.jsonl")]
    log = os.path.join(logs, f"{tag}.log")
    code = run_jvm(classpath, "perfbench.Main", args, log)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{a.workload} exited with {code}; log in {os.path.relpath(log, ROOT)}")
    with open(out) as f:
        r = json.load(f)
    for note in r["notes"]:
        print(f"# {note}")
    for name, m in r["metrics"].items():
        print(f"# {name} = {m['value']} {m['unit']}")
    for failure in r["failures"]:
        print(f"# FAILED: {failure}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
