#!/usr/bin/env python3
"""Builds the engine with the benchmark and runs one workload.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the repository root. The last stdout line of each workload is
one JSON object with its metrics (see perfbench/README.md). The first
run builds with sbt (perfbench/build.sbt compiles ../src/main/scala
together with perfbench/src); later runs reuse the classes until a
source file changes. Everything a run writes stays under
perfbench/.work; its data is removed when it ends, its log and span
file are kept.
"""
import argparse
import glob
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ["rag_serve", "paper_pipeline"]
BUILD_TIMEOUT_S = 700  # a build plus one run stays under 15 minutes
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def newest_source():
    files = glob.glob(os.path.join(ENGINE, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True)
    files.append(os.path.join(HERE, "build.sbt"))
    return max(os.path.getmtime(f) for f in files)


def build(env):
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source():
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    log = os.path.join(HERE, ".work", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        code = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                              cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S).returncode
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    open(STAMP, "w").close()


def run(workload, seed, seconds, trace, env):
    work = os.path.join(HERE, ".work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = CLASSES + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work])
    log = os.path.join(HERE, ".work", f"{workload}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s; log in {log}")
    if trace:
        kept = os.path.join(HERE, ".work", f"trace-{workload}-{seed}.jsonl")
        for f in glob.glob(os.path.join(work, "trace-*.jsonl")):
            shutil.move(f, kept)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} exited {proc.returncode} without a result; log in {log}")
    print("\n".join(lines), flush=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"engine sources not found under {ENGINE}; run from a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    build(env)
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        run(w, a.seed, a.seconds, a.trace, env)


if __name__ == "__main__":
    main()
