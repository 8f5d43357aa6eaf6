#!/usr/bin/env python3
"""DuckDB side of the scaled TPC-DS pairing (dev tool — pairs with
`sbt "runMain graft.BenchBoard tpcds"`; both medians go to PERF.md).

Reads the SAME scaled parquet dir the Scala side printed
(`scaled_dir=...`), registers views, and runs the identical patched
verbatim texts (rebuilt via gen_tpcds_verbatim.patch so the two sides
cannot drift). Protocol: 2 warmups + median of 5.

Usage: python3 tools/bench_tpcds_duckdb.py <scaled_dir> [dsqNN ...]
"""
import statistics
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo/tools")
from gen_tpcds_verbatim import QDIR, TABLES, patch  # noqa: E402

DEFAULT = ["dsq23", "dsq14", "dsq64", "dsq67", "dsq04", "dsq11", "dsq74",
           "dsq95", "dsq78", "dsq75", "dsq31", "dsq59"]


def main():
    d = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    con = duckdb.connect()
    tables = sorted({t for ts in TABLES.values() for t in ts})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    for name in names:
        n = int(name[3:])
        with open(f"{QDIR}/{n:02d}.sql") as f:
            sql = patch(n, f.read())
        for _ in range(2):
            con.sql(sql).fetchall()
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            ts.append((time.perf_counter() - t0) * 1000)
        print(f"[dsduck] {name:8s} median={statistics.median(ts):8.1f} ms  "
              f"runs={','.join(f'{t:.0f}' for t in ts)}")


if __name__ == "__main__":
    main()
