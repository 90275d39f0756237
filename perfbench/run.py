#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
(`sbt compile` at the root) and the harness (`perfbench/harness`); later runs
reuse the build under `.bench_build/perfbench`. The harness then runs the
workload's queries (perfbench/workloads.json) on `local[4]` against the
bundled sf0.1 tables, checks every result against its pinned digest
(perfbench/expected.tsv) and prints the metrics. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(BENCH, "harness")
DATA = os.path.join(BENCH, "data", "sf0.1")
FIXTURES = os.path.join(ROOT, "src", "test", "resources")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

CORES = "4"
HEAP = "1g"
SETUPS = 3  # session set-ups in an untraced run; the traced run sets up once
WARM_PASSES = 3
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_sbt(cwd, log):
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile"]
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=cwd, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die(f"build failed in {cwd}, see {log}")


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "build.sbt")):
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine, then the harness, unless built since the last edit."""
    stamp = os.path.join(WORK, "built")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source_mtime():
        return
    os.makedirs(WORK, exist_ok=True)
    run_sbt(ROOT, os.path.join(WORK, "build-engine.log"))
    run_sbt(HARNESS, os.path.join(WORK, "build-harness.log"))
    open(stamp, "w").close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(FIXTURES, "brfss.csv"),
                 os.path.join(HARNESS, "build.sbt"), DATA):
        if not os.path.exists(need):
            die(f"not a source checkout with the benchmark: {need} is missing")
    workloads = json.load(open(os.path.join(BENCH, "workloads.json")))
    if a.workload not in workloads:
        die(f"unknown workload {a.workload!r}; known: {', '.join(workloads)}")
    build()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    classpath = ":".join([
        os.path.join(HARNESS, "target", "scala-2.13", "classes"),
        os.path.join(ROOT, "target", "scala-2.13", "classes"),
        os.path.join(SPARK_JARS, "*")])
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # C1 only: under the default tiered C2 the JIT compiles 4-9 CPU-seconds
    # per pass on these workloads and is still at it after many passes, and
    # its share of the 4 cores sets a run's pass time; with C1 alone it
    # settles to 0.4-1 s per pass within the warm-up. The code cache gets the
    # tiered default size: C1 alone defaults to 48 MB, which the generated
    # classes of a few passes fill, and every flush recompiles in a burst.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-cp", classpath, "perfbench.Harness",
            "--workload", a.workload,
            "--queries", ",".join(workloads[a.workload]["queries"]),
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", CORES,
            "--setups", str(SETUPS if a.trace == "0" else 1),
            "--warm", str(WARM_PASSES),
            "--data", DATA, "--fixtures", FIXTURES,
            "--expected", os.path.join(BENCH, "expected.tsv"),
            "--work", WORK]
    print(f"run: workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={CORES} heap={HEAP} jvm={' '.join(cmd[1:cmd.index('-cp')])}")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        die(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    ratio = result["failed"] / result["attempted"]
    print(f"failed_ratio = {ratio:.6g} ({result['failed']} of "
          f"{result['attempted']} executions)")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
