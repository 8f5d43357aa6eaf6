#!/usr/bin/env python3
"""DuckDB side of the scaled JOB pairing (dev tool — pairs with
`sbt "runMain graft.BenchBoard job"`).

Reads the SAME scaled parquet dir the Scala side printed
(`scaled_dir=...`) and runs the texts in tools/job_duck_texts.json
(written by `BenchBoard job` on each run from `JobSlice.texts`, which
are verbatim shared-dialect SQL, so the two sides cannot drift).
Protocol: 2 warmups + median of 5.

Usage: python3 tools/bench_job_duckdb.py <scaled_dir> [job_NNx ...]
"""
import json
import os
import statistics
import sys
import time

import duckdb

TABLES = ["title", "movie_companies", "company_name", "company_type",
          "info_type", "movie_info_idx", "movie_info", "keyword",
          "movie_keyword", "cast_info", "name", "aka_name", "role_type",
          "char_name", "kind_type", "movie_link", "link_type",
          "person_info", "comp_cast_type", "complete_cast", "aka_title"]


def main():
    d = sys.argv[1]
    with open(os.path.join(os.path.dirname(__file__), "job_duck_texts.json")) as f:
        texts = json.load(f)
    names = sys.argv[2:] or sorted(texts)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    for name in names:
        sql = texts[name]
        for _ in range(2):
            con.execute(sql).fetchall()
        ts = []
        for _ in range(5):
            t0 = time.time()
            con.execute(sql).fetchall()
            ts.append((time.time() - t0) * 1000)
        print(f"[jobduck] {name:<9s} median={statistics.median(ts):8.1f} ms  "
              f"runs={','.join(f'{t:.0f}' for t in ts)}")


if __name__ == "__main__":
    main()
