#!/usr/bin/env python3
"""Regenerates perfbench/oracle/sf0.01.tsv, the DuckDB oracle digest of
every catalog_mix entry. Needs the duckdb Python package; the benchmark
itself does not. Run from the root of a checkout:

    python3 perfbench/tools/make_oracle_digests.py

Each oracle query runs in DuckDB over perfbench/data/sf0.01 (one view per
table, as tools/check.py registers them), its result is written to parquet,
and the JVM digests that parquet with the same code the benchmark applies to
the Spark results.
"""
import json
import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402  (perfbench/run.py: build and JVM launch)


def main():
    classpath = run.build()
    work = tempfile.mkdtemp(prefix="oracle-", dir=run.BUILD)
    try:
        sql_json = os.path.join(work, "oracle_sql.json")
        log = os.path.join(work, "jvm.log")
        if run.run_jvm(classpath, "perfbench.OracleDigests", ["sql", sql_json], log) != 0:
            sys.exit(open(log).read())
        oracle = json.load(open(sql_json))
        con = duckdb.connect()
        for f in sorted(os.listdir(run.DATA)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(run.DATA, f)}')")
        for name, sql in oracle.items():
            con.execute(f"COPY ({sql}) TO '{os.path.join(work, name + '.parquet')}' (FORMAT PARQUET)")
        if run.run_jvm(classpath, "perfbench.OracleDigests", ["digest", work, run.ORACLE], log) != 0:
            sys.exit(open(log).read())
        print(open(run.ORACLE).read(), end="")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
