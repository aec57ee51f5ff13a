#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the harness once per
checkout, then runs one workload in a fresh JVM and prints its result.

    python3 perfbench/run.py --workload ingest|read [--seed N] \
        [--seconds S] [--trace 0|1]

Run from the root of a checkout. Everything it writes stays under
perfbench/: .build holds the compiled classpath, .work the run's data
(removed at exit) and .out the traced runs' spans. The last line of
standard output is the JSON result; the lines before it, prefixed '#',
print every metric by name with its unit. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
WORKLOADS = ("ingest", "read")
# the development seed; HELDOUT_SEED is kept out of development and
# confirms a claim afterwards
DEFAULT_SEED = 1
HELDOUT_SEED = 7919
BUILD_LIMIT_S = 840
# a run must end within 180 s; leave room for JVM exit and clean-up
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs of the engine).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def spark_home():
    """The Spark installation whose jars the build compiles against:
    SPARK_HOME, else the first spark-submit on PATH with a jars directory
    beside its bin directory."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.exists(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    die("set SPARK_HOME to the Spark installation")


def build():
    """Compiles the engine's main sources with the harness (sbt, offline)
    unless the exported classpath is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources at src/main/scala/graft: run from the root of a checkout")
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "exportClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout.decode("utf-8", "replace")[-4000:])
        die("build failed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # a fixed heap without adaptive resizing keeps GC work alike across runs
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:ParallelGCThreads=4",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--goldens", os.path.join(HERE, "goldens", "queries-sf0.01.tsv")]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        die(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        for f in os.listdir(work) if os.path.isdir(work) else []:
            if f.startswith("spans-"):
                shutil.move(os.path.join(work, f), os.path.join(out_dir, f))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join(lines[-40:]) + "\n")
        die(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
