#!/usr/bin/env python3
"""Rebuild expected_digests.json: the digest of each pipeline_publish
query's result, computed by the query's DuckDB oracle SQL over the
benchmark's parquet inputs (data/). No result of the program is used.

    python3 perfbench/oracle_digests.py        # from the repository root

Takes several minutes (the x_knn_components oracle is a recursive CTE over
an IVF kNN replay), which is why runs compare against the stored digests.
"""
import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import digest  # noqa: E402
import run  # noqa: E402

TABLES = ("orders", "customer", "supplier", "documents", "embeddings")


def main():
    data = os.path.join(run.BENCH, "data")
    os.makedirs(run.OUT, exist_ok=True)
    lines = run.java(run.classpath(), "perfbench.OracleSql", [],
                     os.path.join(run.OUT, "oracle_sql.log"), 120)
    sql = json.loads(lines[-1])
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    inputs = {}
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        with open(p, "rb") as f:
            inputs[t] = hashlib.sha256(f.read()).hexdigest()
    out = {"inputs_sha256": inputs, "queries": {}}
    for name in sorted(sql):
        t0 = time.time()
        rel = con.execute(sql[name])
        names = [d[0] for d in rel.description]
        rows, hexd = digest.digest(rel.fetchall(), names)
        out["queries"][name] = {"columns": names, "rows": rows, "digest": hexd,
                                "oracle_s": round(time.time() - t0, 1)}
        print(f"{name}: {rows} rows, digest {hexd}, {time.time() - t0:.1f}s", flush=True)
    with open(os.path.join(run.BENCH, "expected_digests.json"), "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
