#!/usr/bin/env python3
"""Same-box DuckDB baseline for the Bench headline set.

Runs each headline query's ORACLE SQL (the exact SQL the correctness
gate validates against) in DuckDB on the same parquet tables, warm
(best of 3 after one warm-up), and prints one JSON line comparable to
Bench's output. The oracle SQL comes from a Verify output dir
(oracle_sql.json) so Spark and DuckDB are guaranteed to run the same
computation. The entries are the query keys of a graft.Bench JSON line
(the last line of <benchOut> that has one), so the set is Bench's own.

Usage: python3 tools/bench_baseline.py <sfDir> <verifyOutDir> <benchOut> [threads]
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def bench_entries(bench_out):
    """The query keys, in order, of the last graft.Bench JSON line in a file."""
    lines = [l for l in open(bench_out) if l.startswith('{"metric"') and '"queries"' in l]
    if not lines:
        sys.exit(f"{bench_out}: no graft.Bench JSON line")
    return list(json.loads(lines[-1])["queries"])


def main(sf_dir, out_dir, bench_out, threads=32):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written dataset: directory of parts
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    res, skipped = {}, []
    for name in bench_entries(bench_out):
        if name not in oracle:
            skipped.append(name)  # rows-only entry: no oracle SQL to time
            continue
        sql = oracle[name]
        con.sql(sql).fetchall()  # warm (buffer cache, JIT-ish setup)
        best = min(_timed(con, sql) for _ in range(3))
        res[name] = round(best, 4)
    total = round(sum(res.values()), 4)
    # dataset layout fingerprint: the r4->r5 flat-TPC-H baseline moved
    # 2-3x on a regenerated dataset; per-query grading needs a stable,
    # recorded denominator (duckdb version + file counts/bytes)
    layout = {}
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            files = [os.path.join(p, f) for f in os.listdir(p)
                     if f.endswith(".parquet")]
        elif os.path.exists(p):
            files = [p]
        else:
            continue
        layout[t] = {"files": len(files),
                     "bytes": sum(os.path.getsize(f) for f in files)}
    print(json.dumps({
        "metric": "duckdb_baseline_total", "value": total, "unit": "sec",
        "queries": res, "skipped_no_oracle": skipped, "sf": sf_dir,
        "threads": threads, "duckdb_version": duckdb.__version__,
        "dataset_layout": layout,
    }))


def _timed(con, sql):
    t0 = time.perf_counter()
    con.sql(sql).fetchall()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3],
         int(sys.argv[4]) if len(sys.argv) > 4 else 32)
