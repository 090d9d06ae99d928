#!/usr/bin/env python3
"""One-off check that the pinned digests in expected.json are right answers.

Usage (from the repository root): python3 perfbench/crosscheck.py

1. Runs graft.Verify on the benchmark's generated tables, which writes every
   gate's result as parquet plus oracle_sql.json.
2. Runs tools/compare.py: DuckDB evaluates each gate's oracle SQL on the same
   tables and the results must match Spark's.
3. Digests each written result with the harness's digest and compares it
   with expected.json, so every pinned gate that has an oracle is tied to a
   DuckDB-checked result.
Needs a prior run.py run (for the build and the data). Exits 1 on any
mismatch.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    jars = run.spark_jars()
    cp = run.build(jars)
    sf = {w["sf"] for w in run.CONFIG["workloads"].values()}.pop()
    data = run.data(sf)
    work = os.path.join(run.HERE, "out", "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(work, "results")
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java", *run.JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-cp", cp]
    subprocess.run([*java, "graft.Verify", data, results], cwd=work, check=True)
    compare = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"),
                              data, results], stdout=subprocess.PIPE, text=True)
    print(compare.stdout.strip().splitlines()[-1])
    out = os.path.join(work, "digests.json")
    subprocess.run([*java, "perfbench.Harness", "mode=digest", "cores=4",
                    f"results={results}", f"out={out}"], cwd=work, check=True)
    got = json.load(open(out))
    expected = json.load(open(os.path.join(run.HERE, "expected.json")))
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    bad = [g for g in expected if got.get(g) != expected[g]]
    checked = [g for g in expected if g in oracle and g not in bad]
    for g in bad:
        print(f"MISMATCH {g}: pinned {expected[g]}, verified result {got.get(g)}")
    print(f"{len(expected) - len(bad)}/{len(expected)} pinned digests equal the digest of "
          f"graft.Verify's result; {len(checked)} of them have a DuckDB oracle")
    sys.exit(1 if bad or compare.returncode else 0)


if __name__ == "__main__":
    main()
