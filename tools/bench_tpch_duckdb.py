#!/usr/bin/env python3
"""DuckDB side of the scaled verbatim TPC-H pairing (dev tool — pairs
with `sbt "runMain graft.BenchBoard tpch"`; both medians go to PERF.md).

Reads the SAME scaled parquet dir the Scala side printed
(`scaled_dir=...`) and runs the identical patched verbatim texts
(rebuilt via gen_tpch_verbatim.patch so the two sides cannot drift).
Protocol: 2 warmups + median of 5.

Usage: python3 tools/bench_tpch_duckdb.py <scaled_dir> [thqNN ...]
"""
import statistics
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo/tools")
from gen_tpch_verbatim import QDIR, TABLES, patch  # noqa: E402


def main():
    d = sys.argv[1]
    names = sys.argv[2:] or [f"thq{n:02d}" for n in sorted(TABLES)]
    con = duckdb.connect()
    tables = sorted({t for ts in TABLES.values() for t in ts})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    for name in names:
        n = int(name[3:])
        with open(f"{QDIR}/q{n:02d}.sql") as f:
            sql = patch(n, f.read())
        for _ in range(2):
            con.sql(sql).fetchall()
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            ts.append((time.perf_counter() - t0) * 1000)
        print(f"[thduck] {name:8s} median={statistics.median(ts):8.1f} ms  "
              f"runs={','.join(f'{t:.0f}' for t in ts)}")


if __name__ == "__main__":
    main()
