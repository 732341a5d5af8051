#!/usr/bin/env python3
"""Connector benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark (perfbench/build.sbt,
which compiles the repository's main sources with the benchmark's own)
when its sources changed, runs one workload in a fresh JVM, checks that
the run left every repository file unchanged, and prints the result
object as the last line of stdout. Exit code 0 only for a correct run.

Workloads: axfr_estate, ixfr_stream, update_ingest, sql_suite.
Other modes:
    --selftest          run the benchmark's helper specs (sbt test)
    --write-reference   write out/sql_reference.tsv for the sql_suite keys
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

BENCH = "perfbench"
OUT = os.path.join(BENCH, "out")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
BUILD_INPUTS = [os.path.join("src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
# Directories a build or run may write; everything else must stay unchanged.
OUTPUT_DIRS = {".git", "target", ".bench_build", ".bsp", "spark-warehouse", "metastore_db"}
JVM_TIMEOUT_S = 170
XMX = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def files_under(path):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d not in OUTPUT_DIRS)
        for f in sorted(files):
            yield os.path.join(root, f)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        for f in files_under(p):
            h.update(f.encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(task):
    log(f"sbt {task} in {BENCH}/")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", task], cwd=BENCH,
                       env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr)
    return r.returncode


def build():
    """Compile unless the classes match the current sources."""
    want = digest(BUILD_INPUTS)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return True
    if sbt("compile") != 0:
        return False
    with open(STAMP, "w") as fh:
        fh.write(want)
    return True


def snapshot():
    """Content hash of every repository file outside the output dirs."""
    snap = {}
    for root, dirs, files in os.walk("."):
        rel = os.path.relpath(root, ".")
        dirs[:] = [d for d in dirs if d not in OUTPUT_DIRS
                   and os.path.normpath(os.path.join(rel, d)) != os.path.normpath(OUT)]
        for f in files:
            p = os.path.normpath(os.path.join(rel, f))
            with open(p, "rb") as fh:
                snap[p] = hashlib.sha256(fh.read()).hexdigest()
    return snap


def hygiene(before, after):
    """Problems with what the run did to repository files."""
    changed = sorted(p for p in before if p in after and before[p] != after[p])
    removed = sorted(p for p in before if p not in after)
    added = sorted(p for p in after if p not in before)
    problems = [f"changed {p}" for p in changed] + [f"removed {p}" for p in removed] + \
        [f"added {p}" for p in added]
    return problems


def spark_jars():
    """Spark's jar directory: the one the repository's build.sbt names."""
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("[perfbench] build.sbt names no unmanagedBase (Spark's jars)")
    return m.group(1)


def jvm_command(args, tmp):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{XMX}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", os.pathsep.join([CLASSES, os.path.join("src", "main", "resources"),
                                    os.path.join(spark_jars(), "*")]),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", OUT, "--data", os.path.join(BENCH, "data", "sf0.001")]
    if args.write_reference:
        cmd += ["--write-reference", "1"]
    return cmd


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-reference", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala")) or \
            not os.path.isfile("build.sbt") or not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        log("run from the repository root: src/main/scala, build.sbt and perfbench/build.sbt are required")
        return 3
    if args.selftest:
        return sbt("test")
    if args.write_reference:
        args.workload = "sql_suite"
    if not args.workload:
        ap.error("--workload is required")

    if not build():
        log("build failed")
        return 4

    before = snapshot()
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_NPROC"] = str(len(os.sched_getaffinity(0)))
    t0 = time.time()
    proc = subprocess.Popen(jvm_command(args, tmp), stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
        return 5
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    log(f"jvm exited {proc.returncode} after {time.time() - t0:.1f} s")
    result = None
    for l in lines:
        try:
            d = json.loads(l)
        except ValueError:
            d = None
        if isinstance(d, dict) and "correct" in d and "metrics" in d:
            result = d
        else:
            print(l, file=sys.stderr)
    if result is None:
        log("the run printed no result")
        return proc.returncode or 6

    problems = hygiene(before, snapshot())
    for p in problems:
        log(f"HYGIENE: the run {p}")
    if problems:
        result["correct"] = False
    print(json.dumps(result), flush=True)
    if proc.returncode != 0:
        return proc.returncode
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
