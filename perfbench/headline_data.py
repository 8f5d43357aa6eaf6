"""Deterministic sf-scaled tables in the engine's star-schema test layout.

Same tables, column names, parquet types, row counts and value domains as
the engine's TPC-H-ish test data: one parquet file per table, one row
group, an `events` stream over 30 days of 2024. `o_orderdate`,
`l_shipdate` and `events.ts` are written as the current test data carries
them: INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
TIMESTAMP_NTZ. (FIXTURES.md lists them as ms and ns timestamps; that was an
earlier generation of the test data.) Every value is a salted affine hash
of the row number, so the same scale gives the same files.
"""
import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _h(salt, mod):
    return f"(((i * {1103515245 + salt * 12820163} + {salt}) % 2147483647) % {mod})"


def _pick(salt, values):
    arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"({arr})[1 + {_h(salt, len(values))}]"


def _tables(sf):
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    ev_step = 30 * 86400 * 1000000 // n_ev
    return {
        "region": (5, "i::INT AS r_regionkey, "
                   "(['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[1 + i] AS r_name"),
        "nation": (25, "i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey"),
        "customer": (n_cust, f"""i AS c_custkey, printf('Customer#%09d', i) AS c_name,
            {_h(1, 25)}::INT AS c_nationkey, ({_h(2, 1099985)} - 99985) / 100.0 AS c_acctbal,
            {_pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment"""),
        "supplier": (n_supp, f"""i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
            {_h(4, 25)}::INT AS s_nationkey, ({_h(5, 1099985)} - 99985) / 100.0 AS s_acctbal"""),
        "part": (n_part, f"""i AS p_partkey,
            {_pick(6, ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small'])} || ' ' ||
            {_pick(7, ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget'])} AS p_name,
            'Brand#' || (1 + {_h(8, 25)}) AS p_brand,
            {_pick(9, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            (1 + {_h(10, 50)})::INT AS p_size, 900 + (i % 1000) / 10.0 AS p_retailprice"""),
        "orders": (n_ord, f"""i AS o_orderkey, {_h(11, n_cust)} AS o_custkey,
            {_pick(12, ['F', 'O', 'P'])} AS o_orderstatus,
            (100191 + {_h(13, 49899128)}) / 100.0 AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days({_h(14, 2405)}::INT) AS o_orderdate,
            {_pick(15, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority"""),
        "lineitem": (n_line, f"""{_h(16, n_ord)} AS l_orderkey, {_h(17, n_part)} AS l_partkey,
            {_h(18, n_supp)} AS l_suppkey, (1 + {_h(19, 7)})::INT AS l_linenumber,
            (1 + {_h(20, 50)})::DOUBLE AS l_quantity,
            (90068 + {_h(21, 10409923)}) / 100.0 AS l_extendedprice,
            {_h(22, 11)} / 100.0 AS l_discount, {_h(23, 9)} / 100.0 AS l_tax,
            {_pick(24, ['A', 'N', 'R'])} AS l_returnflag, {_pick(25, ['F', 'O'])} AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days({_h(26, 2499)}::INT) AS l_shipdate"""),
        "events": (n_ev, f"""i AS event_id,
            make_timestamp(1704067200000000 + i * {ev_step} + {_h(27, ev_step)}) AS ts,
            {_h(28, 1500)} AS user_id,
            {_pick(29, ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
            least(round(-50 * ln(1 - {_h(30, 1000000)} / 1000000.0), 2), 560.21) AS value, '{{"k": ' || {_h(31, 100)} || '}}' AS props"""),
    }


def ensure(out_dir, sf):
    """Writes the tables under out_dir unless a finished set is there."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect(":memory:")
    for name, (rows, cols) in _tables(sf).items():
        t = con.execute(f"SELECT {cols} FROM range({rows}) r(i) ORDER BY i").arrow()
        # tz-naive microsecond timestamps, as the current test data carries
        t = t.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us") if pa.types.is_timestamp(f.type) else f.type)
            for f in t.schema]))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, rows))
    con.close()
    open(done, "w").close()
    return out_dir


def version():
    """Short digest of this generator, so a changed generator writes anew."""
    with open(__file__, "rb") as f:
        return hashlib.sha1(f.read()).hexdigest()[:10]
