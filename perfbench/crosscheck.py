#!/usr/bin/env python3
"""Cross-check the benchmark's expected query hashes against the DuckDB oracle.

    python3 perfbench/crosscheck.py [out_dir]

For every query the benchmark's workloads run (the "Module" -> "query"
pairs in Workloads.scala):
  1. `graft.Verify` dumps the query's output at sf0.01 to out_dir;
  2. tools/check_oracle.py compares each dump with its DuckDB oracle SQL;
  3. the dump is hashed the way the harness hashes a live result (bit_xor of
     xxhash64 over every column, in PySpark) and compared with
     perfbench/expected/query_hashes.tsv.
A query passes when its dump matches the oracle (or it has no oracle) and
its dump's hash equals the recorded one. Exit status 0 when all pass.
"""
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (data_dir, sbt_env)


def workload_queries():
    src = open(os.path.join(HERE, "src", "main", "scala", "graftbench", "Workloads.scala")).read()
    return sorted(set(re.findall(r'"[A-Za-z]+" -> "([a-z0-9_]+)"', src)))


def main():
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(run.BUILD, "crosscheck"))
    data = run.data_dir()
    names = workload_queries()
    expected = dict(l.rstrip("\n").split("\t") for l in open(run.EXPECTED) if "\t" in l)
    subprocess.run(["sbt", "--batch", f"runMain graft.Verify {data} {out} {','.join(names)}"],
                   cwd=ROOT, env=run.sbt_env(), check=True, stdin=subprocess.DEVNULL)
    oracle = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data, out],
                            cwd=ROOT, stdout=subprocess.PIPE, text=True)
    print(oracle.stdout.strip().splitlines()[-1] if oracle.stdout.strip() else "no oracle output")
    failed_oracle = set(re.findall(r"^FAIL (\S+):", oracle.stdout, re.M))

    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-crosscheck")
             .config("spark.ui.enabled", "false").getOrCreate())
    bad = 0
    for n in names:
        df = spark.read.parquet(os.path.join(out, n))
        row = df.select(F.xxhash64(*[df[c] for c in df.columns]).alias("h")) \
            .agg(F.expr("bit_xor(h)")).head()
        got = "null" if row[0] is None else str(row[0])
        ok = got == expected.get(n) and n not in failed_oracle
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {n} dump={got} expected={expected.get(n)}"
              f"{' oracle=FAIL' if n in failed_oracle else ''}")
    spark.stop()
    print(f"{len(names) - bad} of {len(names)} workload queries cross-checked")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
