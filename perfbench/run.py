#!/usr/bin/env python3
"""Build the engine with the benchmark and run one benchmark.

    python3 perfbench/run.py --workload search|churn --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine's
sources (src/main/scala) together with perfbench/src/main/scala through the
sbt project in perfbench/, offline; later runs reuse the classes until a
source file changes. The run itself is one JVM on a local[nproc] Spark
session. Everything it writes stays under perfbench/work and
perfbench/target. The last line of standard output is the result object.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """SPARK_HOME, or the first installation on PATH with a jars directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = shutil.which("spark-submit", path=d)
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, **kw):
    """Run a child process to completion; on interruption, stop it first."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def build(spark):
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: compiling the engine and the benchmark (sbt, offline)",
          file=sys.stderr)
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.isdir(os.path.join(CLASSES, "perfbench")):
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    # a SIGTERM unwinds through run_child, which stops the child first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from a checkout of the repository")
    spark = spark_home()
    jars = os.path.join(spark, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    build(spark)

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # compile thresholds at a fifth of the default, so the JIT reaches its
    # steady state within the warm-up instead of during the measured interval
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.2",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", WORK]
    sys.stdout.flush()
    sys.exit(run_child(cmd, cwd=ROOT))


if __name__ == "__main__":
    main()
