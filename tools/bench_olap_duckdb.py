#!/usr/bin/env python3
"""DuckDB side of the ClickBench/h2oai-shape pairing (dev tool — pairs
with `sbt "runMain graft.BenchBoard olap"` on the same sf dir; both medians go
to PERF.md). Protocol mirrors tools/rebaseline.py: warm run discarded,
median of 9.

The SQL is the exact shared text from queries/OlapShapes.scala.
"""
import os
import statistics
import sys
import time

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

QUERIES = {
    "cb_top_groups": """
      SELECT l_orderkey, count(*) AS c, round(sum(l_extendedprice), 2) AS s
      FROM lineitem GROUP BY l_orderkey
      ORDER BY c DESC, l_orderkey LIMIT 10""",
    "cb_filter_multi_agg": """
      SELECT l_orderkey, l_suppkey, count(*) AS c,
       round(sum(l_quantity), 2) AS sq,
       round(sum(l_extendedprice), 2) AS sp
      FROM lineitem WHERE l_returnflag <> 'R'
      GROUP BY l_orderkey, l_suppkey
      ORDER BY c DESC, l_orderkey, l_suppkey LIMIT 10""",
    "cb_regex_key": """
      SELECT regexp_extract(props, '"k": ([0-9]+)', 1) AS k,
       count(*) AS c, round(avg(length(props)), 2) AS l
      FROM events WHERE props <> ''
      GROUP BY k HAVING count(*) > 50
      ORDER BY c DESC, k LIMIT 25""",
    "h2o_groupby_wide": """
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS v, count(*) AS n
      FROM lineitem
      GROUP BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
       l_returnflag, l_linestatus
      ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber
      LIMIT 200""",
    "h2o_range_agg": """
      SELECT l_partkey,
       round(max(l_extendedprice) - min(l_extendedprice), 2) AS range_price
      FROM lineitem GROUP BY l_partkey
      ORDER BY l_partkey LIMIT 200""",
    "h2o_count_distinct": """
      SELECT count(DISTINCT l_partkey) AS nd,
       round(sum(l_quantity), 2) AS sv, count(*) AS n
      FROM lineitem""",
    "cb_like_count": """
      SELECT count(*) AS c FROM documents WHERE text LIKE '%the%'""",
    "cb_like_group_min": """
      SELECT lang, min(source) AS msrc, count(*) AS c
      FROM documents WHERE text LIKE '%the%' AND source <> ''
      GROUP BY lang ORDER BY c DESC, lang LIMIT 10""",
    "cb_like_distinct": """
      SELECT source, min(doc_id) AS mid, min(lang) AS ml, count(*) AS c,
       count(DISTINCT lang) AS nl
      FROM documents
      WHERE text LIKE '%the%' AND text NOT LIKE '%robot%' AND source <> ''
      GROUP BY source ORDER BY c DESC, source LIMIT 10""",
    "job_star_min": """
      SELECT min(p.p_name) AS pn, min(s.s_name) AS sn,
       min(o.o_orderdate) AS od, min(c.c_name) AS cn
      FROM lineitem l, part p, supplier s, orders o, customer c, nation n
      WHERE p.p_name LIKE '%red%' AND n.n_name = 'NATION_3'
       AND o.o_orderpriority = '1-URGENT'
       AND l.l_partkey = p.p_partkey AND l.l_suppkey = s.s_suppkey
       AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
       AND c.c_nationkey = n.n_nationkey""",
    "h2o_join_small": """
      SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS rev,
       round(sum(s_acctbal), 2) AS bal
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""",
    "h2o_join_medium": """
      SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS rev,
       round(sum(p_retailprice), 2) AS retail
      FROM lineitem JOIN part ON l_partkey = p_partkey""",
    "h2o_join_left": """
      SELECT count(*) AS n, count(p_retailprice) AS matched,
       round(sum(l_quantity), 2) AS q, round(sum(p_retailprice), 2) AS retail
      FROM lineitem LEFT JOIN part
        ON l_partkey = p_partkey AND p_size > 25""",
    "h2o_join_big": """
      SELECT o_orderpriority, count(*) AS n,
       round(sum(l_extendedprice), 2) AS rev,
       round(sum(o_totalprice), 2) AS tot
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "cb_date_histogram": """
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
       count(*) AS n, round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1 ORDER BY m""",
}


def main():
    con = duckdb.connect()  # in-memory, default threads
    for t in ["lineitem", "events", "documents", "part", "supplier",
              "orders", "customer", "nation"]:
        # driver testdata is one file per table; Spark-written datasets
        # (the ScaleData sf1 evidence set) are directories of part files
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
    total = 0.0
    for name, sql in QUERIES.items():
        con.sql(sql).fetchall()  # warm (discarded)
        times = []
        for _ in range(9):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            times.append((time.perf_counter() - t0) * 1000)
        m = statistics.median(times)
        total += m
        print(f"{name:<24} {m:8.1f} ms")
    print(f"TOTAL {total:8.1f} ms")


if __name__ == "__main__":
    main()
