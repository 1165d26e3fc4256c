#!/usr/bin/env python3
"""Build and run the spark-graft benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: bbdc_pipeline, registry_mix (or `all`, which runs both in one
Spark session). `--trace 1` runs the traced variant and prints per-layer
metrics instead of end-to-end ones. The first run in a checkout compiles the
engine's sources together with the benchmark's (sbt, offline); later runs
reuse the build while no source file has changed. The last line of standard
output is one JSON object with the keys correct, attempted, failed, metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(BENCH, "..", "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(TARGET, "run")
RUN_TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build: paths and contents."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, BENCH).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark distribution whose spark-submit is on PATH (one with a jars directory)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("set SPARK_HOME, or put a Spark distribution's bin directory on PATH")


def build():
    """Compile with sbt unless the last build used the same sources; return the classpath."""
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    proc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--bless", action="store_true",
                    help="re-pin the expected output fingerprints instead of measuring")
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(os.path.join(BENCH, "..", "build.sbt")):
        fail("the engine's sources are not here; run from the root of a spark-graft checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    cp = build()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + WORK]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--bench-dir", BENCH, "--work-dir", WORK]
    if args.bless:
        cmd.append("--bless")
    # the traced run states its overhead against the last untraced run of the same workload and seed
    wall_file = os.path.join(TARGET, f"untraced-wall-{args.workload}-{args.seed}.txt")
    if args.trace == "1" and os.path.exists(wall_file):
        with open(wall_file) as f:
            cmd += ["--untraced-wall", f.read().strip()]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"the benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("the benchmark JVM printed no result line")
    wall = result["metrics"].get("wall_s")
    if args.trace == "0" and wall is not None:
        with open(wall_file, "w") as f:
            f.write(str(wall["value"]))
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
