#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload commit_resume --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the project's
sources (src/main/scala) and the benchmark's (perfbench/src) with the Scala
compiler that ships with Spark, into .bench_build/classes; later runs reuse
that build while no source changes. Spark is found through SPARK_HOME, or
through the directory of `spark-submit` on PATH.

The JVM (perfbench.Main) sets up, runs the timed closed loop and checks the
extraction outputs. For ops_battery this script then compares every query
leaf's rows with its DuckDB oracle. The last line printed is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

Extra options for the benchmark's own tests: --docs N sizes the corpus,
--corrupt plants one wrong output before the checks.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("commit_resume", "ops_battery")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME")
    return sorted((Path(home) / "jars").glob("*.jar"))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"no project sources under {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compiles the sources unless the last build saw the same ones."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    classes = BUILD / "classes"
    stamp = BUILD / "classes.sha256"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8", "-d", str(classes),
           "-cp", os.pathsep.join(map(str, jars)), f"@{argfile}"]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed")
    stamp.write_text(digest.hexdigest())
    return classes


def run_jvm(args, classes, jars, work):
    threads = max(1, min(4, len(os.sched_getaffinity(0))))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    heap = "2g"
    # the heap flags of the project's own build: ParallelGC, and a heap
    # preallocated and touched at start so page faults do not land in passes
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars]), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--threads", str(threads), "--work", str(work)]
           + (["--docs", str(args.docs)] if args.docs else [])
           + (["--corrupt"] if args.corrupt else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=work, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"{args.workload} exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        fail("no result from the JVM")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = BUILD / "run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(args, classes, jars, work)
        if args.workload == "ops_battery":
            sys.path.insert(0, str(HERE))
            import oracle
            wrong = oracle.failing_leaves(work / "tables", work / "ops_out")
            res["failed"] = len(set(res.pop("miscounted")) | wrong)
            if args.trace:
                res["metrics"]["failed_frac"]["value"] = res["failed"] / res["attempted"]
        else:
            res.pop("miscounted", None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["correct"] = res["failed"] == 0
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
