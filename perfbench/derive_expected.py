#!/usr/bin/env python3
"""Derives perfbench/expected.json, the reference the benchmark checks
outputs against, from the committed inputs (perfbench/data):

  digests            check_oracle.canon digest of the DuckDB oracle SQL
                     result of each query in run.LAKE_QUERIES
  gold_counts_seed0  gold row counts of one `graft.app.Main` run at
                     seed 0

Re-run it only when a query's defined output or the gold schema changes
on purpose.  Usage (from the repository root):
  python3 perfbench/derive_expected.py
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def main():
    import duckdb
    root = os.getcwd()
    classpath = build.build(root)
    base = os.path.join(run.HERE, "data", run.SCALE)
    work = os.path.join(root, build.BUILD_DIR, "derive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        sql_file = os.path.join(work, "oracle_sql.json")
        subprocess.run(build.java_cmd(classpath, run.HEAP, "perfbench.PerfBench",
                                      ["oracle-sql", sql_file]), check=True)
        with open(sql_file) as fh:
            oracle = json.load(fh)
        con = duckdb.connect()
        for f in sorted(os.listdir(base)):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{os.path.join(base, f)}')")
        digests = {q: stats.digest_frame(con.execute(sql).df())
                   for q, sql in sorted(oracle.items()) if q in run.LAKE_QUERIES}
        out = os.path.join(work, "main")
        subprocess.run(build.java_cmd(classpath, run.HEAP, "graft.app.Main", [base, out]),
                       check=True, cwd=work)
        counts = run.gold_counts(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump({"scale": run.SCALE, "digests": digests,
                   "gold_counts_seed0": counts}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
