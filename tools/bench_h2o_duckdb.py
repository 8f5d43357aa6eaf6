#!/usr/bin/env python3
"""DuckDB side of the scaled h2oai pairing (dev tool — pairs with
`sbt "runMain graft.BenchBoard h2o"`; both medians go to PERF.md).

Reads the SAME scaled parquet dir the Scala side printed
(`scaled_dir=...`) and runs the duck-dialect texts from
tools/h2o_duck_texts.json (written by `BenchBoard h2o` on each run so the two
sides cannot drift). Protocol: 2 warmups + median of 5.

Usage: python3 tools/bench_h2o_duckdb.py <scaled_dir> [h2o_gNN ...]
"""
import json
import os
import statistics
import sys
import time

import duckdb


def main():
    d = sys.argv[1]
    with open(os.path.join(os.path.dirname(__file__), "h2o_duck_texts.json")) as f:
        texts = json.load(f)
    names = sys.argv[2:] or sorted(texts)
    con = duckdb.connect()
    for t in ["x_group", "small", "medium", "big"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    con.execute(f"CREATE VIEW h2o_x AS SELECT * "
                f"FROM read_parquet('{d}/x.parquet/*.parquet')")
    for name in names:
        sql = texts[name]
        # materialize engine-side (TEMP TABLE), mirroring the Spark
        # side's toRdd materialization and the reference's own protocol
        def once():
            con.execute(f"CREATE TEMP TABLE ans AS {sql}")
            con.execute("DROP TABLE ans")
        for _ in range(2):
            once()
        runs = []
        for _ in range(5):
            t0 = time.time()
            once()
            runs.append((time.time() - t0) * 1000)
        print(f"[h2oduck] {name:<8} median={statistics.median(runs):8.1f} ms  "
              f"runs={','.join(f'{r:.0f}' for r in runs)}")


if __name__ == "__main__":
    main()
