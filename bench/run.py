#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 bench/run.py --workload serving_read --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark (bench/scala) with the Scala compiler
that ships in Spark's jars, into .bench_build/<source hash>/, and writes
the fixed data set to .bench_build/data-<generator hash>/ in a JVM of its
own. Each run then starts one fresh JVM, which draws the request list
from --seed, sets up, runs the fixed list of operations and checks every
reply. The last line of stdout is one JSON object: correct, attempted, failed and metrics (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1). The line
before it is a report with op counts, the reply digest, per-class
latencies, the host sentinel and any failures.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("serving_read", "analytics_sweep")
RUN_LIMIT_S = 170  # the whole run, build and data generation excluded
GENERATE_LIMIT_S = 600
BUILD = ".bench_build"
# -XX:-UsePerfData: no hsperfdata files in the system temp dir
JVM_OPTS = [
    "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        d = os.path.join(h, "jars")
        if h and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    fail("no Spark jars found (set SPARK_HOME)")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "bench/scala/**/*.scala"), recursive=True))
    res = sorted(f for f in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(f))
    return files, bench, res


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files, log):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        fail(f"compile failed, see {log}", 1)


def build(root, jars):
    main, bench, res = sources(root)
    if not main or not bench:
        fail("run from the repository root: src/main/scala and bench/scala are required")
    main_dir = os.path.join(root, BUILD, "main-" + digest(main + res, root))
    bench_dir = os.path.join(root, BUILD, "bench-" + digest(main + res + bench, root))
    for out, files, cp in ((main_dir, main, os.path.join(jars, "*")),
                           (bench_dir, bench, os.pathsep.join([main_dir, os.path.join(jars, "*")]))):
        if os.path.exists(out + ".ok"):
            continue
        # only the current build of each kind is kept
        kind = os.path.basename(out).split("-")[0]
        for old in glob.glob(os.path.join(root, BUILD, kind + "-*")):
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.remove(old)
        t0 = time.time()
        scalac(jars, cp, out, files, out + ".log")
        with open(out + ".ok", "w") as f:
            f.write(f"{time.time() - t0:.1f}\n")
    return main_dir, bench_dir


def data_dir(root, classes, jars):
    """The fixed data set, written once per generator source. The
    generator renames its staging directory to the final one when done,
    so a directory that exists is complete."""
    gen = digest([os.path.join(root, "bench/scala/graftbench/Data.scala")], root)
    path = os.path.join(root, BUILD, "data-" + gen)
    if os.path.isdir(path):
        return path
    for old in glob.glob(os.path.join(root, BUILD, "data-*")):
        shutil.rmtree(old, ignore_errors=True)
    with work_dir(root) as work:
        run_jvm(root, classes, jars, ["--workload", "generate", "--seed", "0", "--seconds", "0",
                                      "--trace", "0", "--data", path], work,
                time.time() + GENERATE_LIMIT_S)
    if not os.path.isdir(path):
        fail("data generation failed", 1)
    return path


@contextlib.contextmanager
def work_dir(root):
    """A fresh per-process directory for Spark's warehouse and local dirs,
    TagTables segments and stream checkpoints, removed afterwards."""
    work = os.path.join(root, BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def sentinel_ms():
    """A fixed single-thread CPU loop: a host-contention diagnostic only."""
    t = time.perf_counter()
    x = 1
    for _ in range(1_500_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return (time.perf_counter() - t) * 1000.0


def run_jvm(root, classes, jars, args, work, deadline):
    """Run graftbench.Main with `args`; return its report and result."""
    cp = os.pathsep.join(list(classes) + [
                          os.path.join(root, "src/main/resources"), os.path.join(jars, "*")])
    for d in ("tmp", "local", "stream_ck"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ, GRAFT_STREAM_CK_ROOT=os.path.join(work, "stream_ck"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                                  "-cp", cp, "graftbench.Main", "--work", work] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=lf,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            out = b""
            print("graftbench: run exceeded its time limit", file=sys.stderr)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    lines = out.decode("utf-8", "replace").splitlines()
    found = {}
    for ln in lines:
        for tag in ("GRAFTBENCH_REPORT", "GRAFTBENCH_RESULT"):
            if ln.startswith(tag + " "):
                found[tag] = json.loads(ln[len(tag) + 1:])
    shutil.copy(log, os.path.join(root, BUILD, "last-jvm.log"))
    if p.returncode != 0:
        with open(log, "rb") as lf:
            sys.stderr.write(lf.read()[-4000:].decode("utf-8", "replace"))
    return found.get("GRAFTBENCH_REPORT", {}), found.get("GRAFTBENCH_RESULT")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)

    data = data_dir(root, classes, jars)

    deadline = time.time() + RUN_LIMIT_S
    before = sentinel_ms()
    with work_dir(root) as work:
        report, result = run_jvm(root, classes, jars, [
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data], work, deadline)
    after = sentinel_ms()
    if result is None:
        fail("the run produced no result", 1)
    report["host_sentinel_ms"] = {"before": before, "after": after}
    if args.trace:
        result["metrics"]["host.sentinel_before_ms"] = {"value": before, "unit": "ms"}
        result["metrics"]["host.sentinel_after_ms"] = {"value": after, "unit": "ms"}
    print(json.dumps({"report": report}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
