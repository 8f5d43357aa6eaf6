#!/usr/bin/env python3
"""DuckDB side of the scaled ClickBench pairing (dev tool — pairs with
`sbt "runMain graft.BenchBoard clickbench"`; both medians go to PERF.md).

Reads the SAME scaled parquet dir the Scala side printed
(`scaled_dir=...`) and runs the duck-dialect texts from
tools/cb_duck_texts.json (written by `BenchBoard clickbench` on each
run so the two sides cannot drift).
Protocol: 2 warmups + median of 5.

Usage: python3 tools/bench_cb_duckdb.py <scaled_dir> [cb_qNN ...]
"""
import json
import os
import statistics
import sys
import time

import duckdb


def main():
    d = sys.argv[1]
    with open(os.path.join(os.path.dirname(__file__), "cb_duck_texts.json")) as f:
        texts = json.load(f)
    names = sys.argv[2:] or sorted(texts)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW hits AS SELECT * "
                f"FROM read_parquet('{d}/hits.parquet/*.parquet')")
    for name in names:
        sql = texts[name]
        for _ in range(2):
            con.execute(sql).fetchall()
        ts = []
        for _ in range(5):
            t0 = time.time()
            con.execute(sql).fetchall()
            ts.append((time.time() - t0) * 1000)
        print(f"[cbduck] {name:<8s} median={statistics.median(ts):8.1f} ms  "
              f"runs={','.join(f'{t:.0f}' for t in ts)}")


if __name__ == "__main__":
    main()
