#!/usr/bin/env python3
"""Computes the expected results of the queries whose DuckDB oracle is
too slow to run inside a benchmark run (LSH over 64-d vectors written
as list lambdas: minutes per query at 500 vectors).

These queries read only the embeddings table, which is the same for
every seed. This runs their ``SparkEntry.oracleSql`` in DuckDB once
and stores each result as ``expected/<query>.parquet``, with the
SHA-256 of the oracle SQL and of the embeddings file in
``expected/manifest.json``. A run
whose oracle SQL or embeddings differ from the manifest fails its check
and names the query, so stale expectations never pass.

    python3 perfbench/expected.py     # from the root of a checkout
"""
import hashlib
import json
import os
import shutil
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import outputs  # noqa: E402
import run  # noqa: E402

SLOW_ORACLES = ["q_dbscan", "q_dedup_embed_resolve"]
EXPECTED = os.path.join(run.HERE, "expected")


def sha(data):
    return hashlib.sha256(data).hexdigest()


def oracle_sql(cp, work):
    run.run_harness(cp, "oracles", work, 0, 0, time.time() + 120,
                    ops=SLOW_ORACLES, expect="oracle_sql.json")
    with open(f"{work}/out/oracle_sql.json") as f:
        return json.load(f)


def main():
    cp = run.build(time.time() + 840)
    work = os.path.join(run.BUILD, "work", "expected")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark", "scratch", "duckdb", "input"):
        os.makedirs(os.path.join(work, d))
    sqls = oracle_sql(cp, work)
    gen.embeddings(f"{work}/input", gen.tables_rows(run.TABLES_SF)["embeddings"])
    path = f"{work}/input/embeddings.parquet"
    with open(path, "rb") as f:
        manifest = {"embeddings": sha(f.read()),
                    "queries": {q: sha(sqls[q].encode()) for q in SLOW_ORACLES}}
    con = outputs.connect(f"{work}/duckdb", 4)
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    os.makedirs(EXPECTED, exist_ok=True)
    for q in SLOW_ORACLES:
        t = time.time()
        con.execute(f"COPY ({sqls[q]}) TO '{EXPECTED}/{q}.parquet' (FORMAT parquet)")
        print(f"{q}: {time.time() - t:.1f} s", flush=True)
    with open(f"{EXPECTED}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
