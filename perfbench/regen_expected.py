#!/usr/bin/env python3
"""Regenerate the stored oracle results under perfbench/expected/.

Usage (from the repository root): python3 perfbench/regen_expected.py

Dumps `SparkEntry.oracleSql` for every benchmarked query through the
harness JVM, runs each statement in DuckDB over perfbench/data/sf0.01 and
writes its result as expected/sf0.01/<query>.parquet, plus the SQL itself
as expected/sf0.01/oracle_sql.json. Needs only DuckDB and the built harness
(run.py builds it); takes under a minute on 4 cores.
"""
import json
import os
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    run.ensure_built()
    os.makedirs(run.EXPECTED, exist_ok=True)
    sql_path = os.path.join(run.EXPECTED, "oracle_sql.json")
    subprocess.run(["java", "-cp", f"{run.CLASSES}{os.pathsep}{run.spark_jars()}",
                    "graft.perfbench.Main", "--dump-oracle", sql_path],
                   check=True, stdin=subprocess.DEVNULL)
    with open(sql_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.DATA}/{t}.parquet')")
    for name, sql in sorted(oracle.items()):
        out = os.path.join(run.EXPECTED, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT parquet, COMPRESSION zstd)")
        rows = con.sql(f"SELECT count(*) FROM read_parquet('{out}')").fetchone()[0]
        print(f"{name}: {rows} rows", file=sys.stderr)


if __name__ == "__main__":
    main()
