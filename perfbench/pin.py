#!/usr/bin/env python3
"""Re-pin perfbench/expected.tsv, the digests every benchmark run checks.

    python3 perfbench/pin.py

Run from the root of a source checkout whose gold fixtures sit where the
registry reads them (`graft.ops.ParityQueries.FixtureDir`). Steps:

1. build the engine and the harness (as run.py does);
2. dump every workload query with `graft.Verify` on the bundled sf0.1 tables;
3. compare each dump against its DuckDB oracle with tools/check.py;
4. digest each dump with `perfbench.Pin` and write expected.tsv, marking
   each line with the oracle verdict.

A query whose oracle compare fails is still pinned (its digest is what the
engine produces) and marked FAIL, so it stays in its workload and shows.
"""
import json
import os
import re
import subprocess
import sys
import tempfile

import run


def java(main, *args, cwd):
    cmd = ["java"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{run.HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={cwd}",
            f"-Dspark.sql.warehouse.dir={os.path.join(cwd, 'warehouse')}",
            "-cp", ":".join([
                os.path.join(run.HARNESS, "target", "scala-2.13", "classes"),
                os.path.join(run.ROOT, "target", "scala-2.13", "classes"),
                os.path.join(run.SPARK_JARS, "*")]), main, *args]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                          check=True).stdout


def main():
    run.build()
    workloads = json.load(open(os.path.join(run.BENCH, "workloads.json")))
    queries = sorted({q for w in workloads.values() for q in w["queries"]})
    dumped = [q for q in queries if q != "gold_load"]
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        out = os.path.join(tmp, "verify")
        java("graft.Verify", run.DATA, out, *dumped, cwd=tmp)
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
             run.DATA, out, *dumped], stdout=subprocess.PIPE, text=True)
        verdict = {n: v for v, n in
                   re.findall(r"^(PASS|FAIL) (\w+)", check.stdout, re.M)}
        verdict["gold_load"] = verdict.get("gold_csv", "FAIL")
        digests = java("perfbench.Pin", out, *queries, cwd=tmp)
    lines = ["# query<TAB>digest<TAB>oracle verdict at sf0.1 (tools/check.py)"]
    for line in digests.splitlines():
        name, digest = line.split("\t")
        lines.append(f"{name}\t{digest}\t{verdict.get(name, 'FAIL')}")
    with open(os.path.join(run.BENCH, "expected.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(check.stdout)


if __name__ == "__main__":
    main()
