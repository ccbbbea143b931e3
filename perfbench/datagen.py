"""Deterministic TPC-H-shaped tables for the benchmark, written as parquet.

The tables follow the slim schema the engine's query programs use (no
partsupp; dates 1995-2001 stored as TIMESTAMP; p_type is one word; nations
are NATION_<k>). Every value is a pure function of the row index and the
data seed, drawn with DuckDB's hash(), so the same (sf, seed) always gives
byte-identical inputs.

    python3 perfbench/datagen.py <out_dir> <sf> [data_seed]
"""
import os
import sys

import duckdb

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "hot", "large", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "ring", "spring", "widget"]

TABLES = ["region", "nation", "supplier", "part", "customer", "orders", "lineitem"]


def sizes(sf):
    return {
        "supplier": max(10, int(10000 * sf)),
        "part": max(200, int(200000 * sf)),
        "customer": max(150, int(150000 * sf)),
        "orders": max(1500, int(1500000 * sf)),
        "lineitem": max(6000, int(6000000 * sf)),
    }


def pick(values, draw):
    arr = "[" + ", ".join("'%s'" % v for v in values) + "]"
    return "%s[1 + (%s %% %d)::INT]" % (arr, draw, len(values))


def generate(out_dir, sf, seed=1):
    n = sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    # h(i, salt): a 64-bit hash of the row index, column salt and seed
    con.execute("CREATE MACRO h(i, salt) AS hash(i * 1000003 + salt * 7919 + %d)" % seed)
    con.execute("CREATE MACRO u(i, salt) AS (h(i, salt) % 1000000) / 1000000.0")
    day0 = "TIMESTAMP '1995-01-01 00:00:00'"

    def write(name, sql):
        path = os.path.join(out_dir, name + ".parquet")
        con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, path))

    write("region", "SELECT i::INT AS r_regionkey, %s AS r_name FROM range(5) t(i)"
          % pick(REGIONS, "i"))
    write("nation", "SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
          "(i % 5)::INT AS n_regionkey FROM range(25) t(i)")
    write("supplier", f"""SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        (h(i, 1) % 25)::INT AS s_nationkey, round(-999.99 + u(i, 2) * 10999.98, 2) AS s_acctbal
        FROM range({n['supplier']}) t(i)""")
    write("part", f"""SELECT i::BIGINT AS p_partkey,
        {pick(COLORS, 'h(i, 1)')} || ' ' || {pick(NOUNS, 'h(i, 2)')} AS p_name,
        'Brand#' || (1 + h(i, 3) % 25) AS p_brand, {pick(PTYPES, 'h(i, 4)')} AS p_type,
        (1 + h(i, 5) % 50)::INT AS p_size, round(900.0 + (i % 1000) * 0.1, 2)::DOUBLE AS p_retailprice
        FROM range({n['part']}) t(i)""")
    write("customer", f"""SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        (h(i, 1) % 25)::INT AS c_nationkey, round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
        {pick(SEGMENTS, 'h(i, 3)')} AS c_mktsegment
        FROM range({n['customer']}) t(i)""")
    write("orders", f"""SELECT i::BIGINT AS o_orderkey, (h(i, 1) % {n['customer']})::BIGINT AS o_custkey,
        {pick(['F', 'O', 'P'], 'h(i, 2)')} AS o_orderstatus,
        round(1000.0 + u(i, 3) * 499000.0, 2) AS o_totalprice,
        {day0} + to_days((h(i, 4) % 2404)::INT) AS o_orderdate,
        {pick(PRIORITIES, 'h(i, 5)')} AS o_orderpriority
        FROM range({n['orders']}) t(i)""")
    write("lineitem", f"""SELECT (h(i, 1) % {n['orders']})::BIGINT AS l_orderkey,
        (h(i, 2) % {n['part']})::BIGINT AS l_partkey, (h(i, 3) % {n['supplier']})::BIGINT AS l_suppkey,
        (1 + h(i, 4) % 7)::INT AS l_linenumber, (1 + h(i, 5) % 50)::DOUBLE AS l_quantity,
        round(900.0 + u(i, 6) * 104100.0, 2) AS l_extendedprice,
        ((h(i, 7) % 11) / 100.0)::DOUBLE AS l_discount, ((h(i, 8) % 9) / 100.0)::DOUBLE AS l_tax,
        {pick(['A', 'N', 'R'], 'h(i, 9)')} AS l_returnflag, {pick(['F', 'O'], 'h(i, 10)')} AS l_linestatus,
        TIMESTAMP '1995-01-02 00:00:00' + to_days((h(i, 11) % 2498)::INT) AS l_shipdate
        FROM range({n['lineitem']}) t(i)""")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 1)
