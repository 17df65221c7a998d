#!/usr/bin/env python3
"""Seeded ANN + dedup benchmark for the graft operators.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first call compiles the engine sources
(src/main/scala) together with the benchmark (perfbench/scala) into
.bench_build/classes with the Scala compiler that ships among the Spark
jars; later calls reuse the classes while the sources are unchanged. Each
run works in its own directory under .bench_build/work, removed at exit.
The span trace of the last run of each workload and seed is written to
.bench_build/trace/<workload>-<seed>.json. The last stdout line is the
JSON result.
"""

import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    root build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            die("no build.sbt at the working directory; run from the repository root")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            die("build.sbt names no unmanagedBase jar directory and SPARK_HOME is unset")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        die(f"no jars in {d}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        die("no engine sources under src/main/scala; run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return engine + bench


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", ":".join(jars), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die("compilation failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_cmd(jars, work, main_args):
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-cp", ":".join([CLASSES] + jars), "perfbench.Main", "--work", work] + main_args)


def run_jvm(cmd):
    """Run the JVM and return (exit code, stdout lines). The JVM is killed
    and waited for if it overruns, or if this process is terminated."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    build(jars)
    name = "self-test" if a.self_test else f"{a.workload}-{a.seed}"
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    if a.self_test:
        main_args = ["--self-test", "1"]
    else:
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        main_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace),
                     "--trace-out", os.path.join(BUILD, "trace", f"{a.workload}-{a.seed}.json")]
    try:
        code, lines = run_jvm(java_cmd(jars, work, main_args))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        for line in lines:
            print(line, file=sys.stderr)
        die(f"benchmark exited with code {code}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
