"""DuckDB side of a run: result check and same-host pass time.

Reads the `oracle.json` and `rows/<query>.json` a benchmark process
wrote, runs each oracle text in DuckDB over the same parquet files, and
compares the two results as sorted row lists. Values must be equal,
except that a rounded float may differ by one unit in its last decimal
place (see `_last_digit`), and columns listed in `approx_cols` (sketch
estimates, which differ by engine) must agree within a relative
tolerance.
"""
import datetime
import decimal
import json
import math
import os
import statistics
import time

import duckdb

APPROX_REL_TOL = 0.05
_EPOCH = datetime.datetime(1970, 1, 1)


def _num(v):
    if isinstance(v, int):
        return v
    f = float(v)
    if math.isnan(f):
        return "NaN"
    return int(f) if f.is_integer() and abs(f) < 2 ** 63 else f


def _norm(v):
    """One value in a form both engines' results reduce to."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return ("ts", d.days * 86400000000 + d.seconds * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, dict):  # tagged values written by the benchmark process
        if "ts" in v:
            return ("ts", int(v["ts"]))
        if "date" in v:
            return ("date", v["date"])
        if "dec" in v:
            return _num(decimal.Decimal(v["dec"]))
    return str(v)


def _decimals(v):
    return max(0, -decimal.Decimal(repr(v)).as_tuple().exponent) if isinstance(v, float) else 0


def _last_digit(x, y):
    """Rounded floats one unit apart in their last decimal place: both
    engines rounded sums that differ only by summation order across a
    rounding boundary (the oracle texts round every double aggregate)."""
    if not (isinstance(x, (int, float)) and isinstance(y, (int, float))):
        return False
    d = max(_decimals(x), _decimals(y))
    # values on a 10^-d grid: one unit apart reads as ~1.0 units, two as ~2.0
    return d >= 1 and abs(x - y) < 1.5 * 10.0 ** -d


def _same(spark_rows, duck_rows, approx):
    """(equal, reason, count of last-digit differences accepted)."""
    if len(spark_rows) != len(duck_rows):
        return False, f"{len(spark_rows)} rows vs {len(duck_rows)}", 0
    s = sorted((tuple(_norm(v) for v in r) for r in spark_rows), key=repr)
    d = sorted((tuple(_norm(v) for v in r) for r in duck_rows), key=repr)
    ties = 0
    for i, (a, b) in enumerate(zip(s, d)):
        if len(a) != len(b):
            return False, f"{len(a)} columns vs {len(b)}", ties
        for c, (x, y) in enumerate(zip(a, b)):
            if c in approx:
                if not (isinstance(x, (int, float)) and isinstance(y, (int, float))
                        and abs(x - y) <= APPROX_REL_TOL * max(abs(y), 1)):
                    return False, f"row {i} col {c}: {x!r} vs {y!r}", ties
            elif x != y:
                if not _last_digit(x, y):
                    return False, f"row {i} col {c}: {x!r} vs {y!r}", ties
                ties += 1
    return True, "", ties


def _connect(spec, threads, temp_dir):
    con = duckdb.connect(":memory:")
    con.execute(f"SET threads TO {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name, path in spec["views"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_and_pair(run_dir, threads, pair_passes):
    """Returns ({query: reason} for mismatches, {query: last-digit
    differences accepted}, DuckDB pass seconds).

    The first DuckDB pass is the correctness pass and warms DuckDB; the
    pass time is the median of `pair_passes` further passes."""
    with open(os.path.join(run_dir, "oracle.json")) as f:
        spec = json.load(f)
    tmp = os.path.join(run_dir, "scratch", "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = _connect(spec, threads, tmp)
    bad, ties = {}, {}
    for q in spec["queries"]:
        path = os.path.join(run_dir, "rows", f"{q['name']}.json")
        if not os.path.exists(path):
            bad[q["name"]] = "no result from the engine"
            continue
        with open(path) as f:
            spark_rows = json.load(f)
        try:
            duck_rows = con.execute(q["sql"]).fetchall()
        except duckdb.Error as e:
            bad[q["name"]] = f"oracle error: {e}"
            continue
        ok, why, n = _same(spark_rows, duck_rows, {int(c) for c in q["approx_cols"]})
        if not ok:
            bad[q["name"]] = why
        if n:
            ties[q["name"]] = n
    passes = []
    for _ in range(pair_passes):
        t0 = time.perf_counter()
        for q in spec["queries"]:
            con.execute(q["sql"]).fetchall()
        passes.append(time.perf_counter() - t0)
    con.close()
    return bad, ties, (statistics.median(passes) if passes else float("nan"))
