#!/usr/bin/env python3
"""DuckDB side of the TPC-DS 99 probe: runs each official query text
over the synthesized schema (prelude CTEs from /tmp/tpcds_prelude.sql,
written by graft.tools.TpcdsFpProbe) and prints `qNN count` or the error.

Usage: python3 tools/tpcds_oracle.py [qnums...]
"""
import sys
import duckdb

QDIR = "/root/reference/extension/tpcds/dsdgen/queries"
prelude = open("/tmp/tpcds_prelude.sql").read()
only = {int(a) for a in sys.argv[1:]}
con = duckdb.connect()
for q in range(1, 100):
    if only and q not in only:
        continue
    text = open(f"{QDIR}/{q:02d}.sql").read().strip().rstrip(";")
    sql = f"{prelude}\nSELECT COUNT(*) AS n FROM (\n{text}\n) __q"
    try:
        n = con.sql(sql).fetchone()[0]
        print(f"q{q:02d} {n}")
    except Exception as e:
        msg = str(e).replace("\n", " | ")[:300]
        print(f"q{q:02d} ERR {msg}")
