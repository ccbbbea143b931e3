"""The 22 TPC-H templates of the `tpch_power` workload, as Spark SQL text.

Each template is derived from the DuckDB oracle SQL of the engine's bench
queries (queries/Tpch.scala, queries/TpchExt.scala, and q1/q6 in
queries/Relational.scala). The fixed literals became substitution slots
that each execution draws afresh from the workload's random generator, as
TPC-H qgen does; a few templates gained a slot of the kind qgen has
(a region or date window for q5, a nation pair for q7, a colour for q9, a
priority for q13, nations for q22).

The text is the Spark dialect the engine accepts. `duckdb_sql` turns it
into the oracle's dialect; the only differences are date formatting
(Spark's date_format vs DuckDB's strftime). Day offsets are written as
`INTERVAL '1' DAY * (n)`, which both engines accept, in place of the
oracle's DuckDB-only `INTERVAL (n) DAY`.
"""
import datetime
import re


def osum(e):
    """Exact sum of a double expression through integer micros (the oSum
    of queries/package.scala): both engines then agree to the last bit."""
    return "(CAST(SUM(CAST(round((%s) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0)" % e


def oavg(e):
    return "(CAST(SUM(CAST(round((%s) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(%s))" % (e, e)


REV = osum("l_extendedprice * (1.0 - l_discount)")

PS_CTE = """ps AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey * 7 + i * 13) % ns AS ps_suppkey,
         ((p_partkey * 31 + i * 17) % 9999) + 1 AS ps_availqty,
         CAST((p_partkey * 131 + i * 37) % 100000 AS DOUBLE) / 100.0 AS ps_supplycost
  FROM part CROSS JOIN (SELECT COUNT(*) AS ns FROM supplier) nsup
  CROSS JOIN (VALUES (0), (1), (2), (3)) AS g(i))"""

LI_CTE = """li AS (SELECT *,
  l_shipdate + INTERVAL '1' DAY * (((l_orderkey * 3 + l_linenumber * 5) % 61) - 30) AS l_commitdate,
  l_shipdate + INTERVAL '1' DAY * (((l_orderkey * 7 + l_linenumber * 11) % 30) + 1) AS l_receiptdate
  FROM lineitem)"""

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "green", "hot", "large", "red", "small"]


def ts(d):
    return "TIMESTAMP '%s 00:00:00'" % d.isoformat()


def day(y, m=1, d=1):
    return datetime.date(y, m, d)


def add_months(d, n):
    m = d.month - 1 + n
    return datetime.date(d.year + m // 12, m % 12 + 1, 1)


def nation(rng):
    return "NATION_%d" % rng.randrange(25)


def brand(rng):
    return "Brand#%d" % rng.randint(1, 25)


def q1(r):
    cut = day(1998, 12, 1) - datetime.timedelta(days=r.randint(60, 120))
    return f"""SELECT l_returnflag, l_linestatus,
{osum('l_quantity')} AS sum_qty,
{osum('l_extendedprice')} AS sum_base_price,
{osum('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
{osum('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
{oavg('l_quantity')} AS avg_qty,
{oavg('l_extendedprice')} AS avg_price,
{oavg('l_discount')} AS avg_disc,
COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= {ts(cut)}
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def q2(r):
    reg = r.choice(REGIONS)
    return f"""WITH {PS_CTE}
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
FROM part, supplier, ps, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
AND p_size <= {r.randint(5, 15)} AND p_type = '{r.choice(PTYPES)}'
AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
AND r_name = '{reg}'
AND ps_supplycost = (
  SELECT MIN(ps_supplycost) FROM ps ps2, supplier s2, nation n2, region r2
  WHERE ps2.ps_partkey = part.p_partkey AND s2.s_suppkey = ps2.ps_suppkey
  AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
  AND r2.r_name = '{reg}')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""


def q3(r):
    d = day(1997, 3, 1) + datetime.timedelta(days=r.randint(0, 670))
    return f"""SELECT l_orderkey, {REV} AS revenue,
date_format(o_orderdate, 'yyyy-MM-dd') AS o_date
FROM customer, orders, lineitem
WHERE c_mktsegment = '{r.choice(SEGMENTS)}' AND c_custkey = o_custkey
AND l_orderkey = o_orderkey
AND o_orderdate < {ts(d)}
AND l_shipdate > {ts(d)}
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10"""


def q4(r):
    y = r.randint(1995, 2000)
    return f"""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
WHERE o_orderdate >= {ts(day(y))}
AND o_orderdate < {ts(day(y + 1))}
AND EXISTS (SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_quantity >= {r.randint(45, 49)})
GROUP BY o_orderpriority ORDER BY o_orderpriority"""


def q5(r):
    y = r.randint(1995, 2000)
    return f"""SELECT n_name, {REV} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
AND r_name = '{r.choice(REGIONS)}'
AND o_orderdate >= {ts(day(y))} AND o_orderdate < {ts(day(y + 1))}
GROUP BY n_name ORDER BY revenue DESC, n_name"""


def q6(r):
    y = r.randint(1995, 2000)
    disc = r.randint(2, 9)
    return f"""SELECT {osum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= {ts(day(y))}
AND l_shipdate < {ts(day(y + 1))}
AND l_discount BETWEEN CAST({disc - 1}.0 / 100 AS DOUBLE) AND CAST({disc + 1}.0 / 100 AS DOUBLE)
AND l_quantity < {r.randint(24, 25)}"""


def q7(r):
    a, b = sorted(r.sample(range(25), 2))
    return f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
{REV} AS revenue
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
AND c_nationkey = n2.n_nationkey AND n1.n_name < n2.n_name
AND n1.n_nationkey IN ({a}, {b}) AND n2.n_nationkey IN ({a}, {b})
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year"""


def q8(r):
    reg = r.randrange(5)
    supp = "NATION_%d" % (reg + 5 * r.randrange(5))
    return f"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
{osum("CASE WHEN n2.n_name = '%s' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END" % supp)} /
{REV} AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = '{r.choice(PTYPES)}'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = '{REGIONS[reg]}'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY o_year ORDER BY o_year"""


def q9(r):
    return f"""SELECT n_name AS nation_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
{REV} AS sum_profit
FROM lineitem, part, supplier, orders, nation
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
AND p_name LIKE '%{r.choice(COLORS)}%'
GROUP BY n_name, o_year ORDER BY nation_name, o_year DESC"""


def q10(r):
    d = add_months(day(1995), r.randrange(0, 76))
    return f"""SELECT c_custkey, c_name, c_acctbal, n_name,
{REV} AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
AND o_orderdate >= {ts(d)}
AND o_orderdate < {ts(add_months(d, 3))}
AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20"""


def q11(r):
    n = nation(r)
    value = osum("ps_supplycost * ps_availqty")
    return f"""WITH {PS_CTE}
SELECT ps_partkey, value FROM (
  SELECT ps_partkey, {value} AS value
  FROM ps, supplier, nation
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = '{n}'
  GROUP BY ps_partkey) v
WHERE value > (
  SELECT {value} * {r.choice(['0.002', '0.003', '0.004', '0.005'])}
  FROM ps, supplier, nation
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = '{n}')
ORDER BY value DESC, ps_partkey"""


def q12(r):
    y = r.randint(1995, 2000)
    hi = r.sample(PRIORITIES, 2)
    pr = "'%s','%s'" % tuple(hi)
    return f"""SELECT l_returnflag,
CAST(SUM(CASE WHEN o_orderpriority IN ({pr}) THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
CAST(SUM(CASE WHEN o_orderpriority NOT IN ({pr}) THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
AND l_shipdate >= {ts(day(y))}
AND l_shipdate < {ts(day(y + 1))}
GROUP BY l_returnflag ORDER BY l_returnflag"""


def q13(r):
    return f"""SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  AND o_orderpriority <> '{r.choice(PRIORITIES)}'
  GROUP BY c_custkey) x
GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""


def q14(r):
    d = add_months(day(1995), r.randrange(0, 82))
    return f"""SELECT 100.0 *
{osum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} /
{REV} AS promo_revenue
FROM lineitem, part WHERE l_partkey = p_partkey
AND l_shipdate >= {ts(d)}
AND l_shipdate < {ts(add_months(d, 1))}"""


def q15(r):
    d = add_months(day(1995), r.randrange(0, 79))
    return f"""WITH revenue AS (
  SELECT l_suppkey, {REV} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= {ts(d)}
  AND l_shipdate < {ts(add_months(d, 3))}
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey"""


def q16(r):
    types = r.sample(PTYPES, 2)
    sizes = ",".join(str(s) for s in sorted(r.sample(range(1, 51), 8)))
    return f"""WITH {PS_CTE}
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps, part
WHERE p_partkey = ps_partkey AND p_brand <> '{brand(r)}'
AND p_type NOT IN ('{types[0]}','{types[1]}')
AND p_size IN ({sizes})
AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""


def q17(r):
    return f"""SELECT {osum('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = '{brand(r)}'
AND l_quantity < (
  SELECT {oavg('l2.l_quantity')} * 0.2 FROM lineitem l2
  WHERE l2.l_partkey = p_partkey)"""


def q18(r):
    return f"""SELECT c_name, c_custkey, o_orderkey, date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
o_totalprice, {osum('l_quantity')} AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(round(l_quantity * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 > {r.randint(140, 160)})
AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""


def q19(r):
    b = r.sample(range(1, 26), 3)
    q = [r.randint(1, 10), r.randint(10, 20), r.randint(20, 30)]
    return f"""SELECT {REV} AS revenue,
COUNT(*) AS n_lines
FROM lineitem, part WHERE l_partkey = p_partkey AND (
  (p_brand = 'Brand#{b[0]}' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN {q[0]} AND {q[0] + 10}) OR
  (p_brand = 'Brand#{b[1]}' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN {q[1]} AND {q[1] + 10}) OR
  (p_brand = 'Brand#{b[2]}' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN {q[2]} AND {q[2] + 10}))"""


def q20(r):
    y = r.randint(1995, 2000)
    return f"""WITH {PS_CTE}
SELECT s_name, s_suppkey FROM supplier, nation
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM ps
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = '{r.choice(PTYPES)}')
  AND ps_availqty > (
    SELECT 0.5 * {osum('l_quantity')} FROM lineitem
    WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
    AND l_shipdate >= {ts(day(y))}
    AND l_shipdate < {ts(day(y + 1))}))
AND s_nationkey = n_nationkey AND n_name = '{nation(r)}'
ORDER BY s_name"""


def q21(r):
    return f"""WITH {LI_CTE}
SELECT s_name, COUNT(*) AS numwait
FROM supplier, li l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
AND o_orderstatus = '{r.choice(['F', 'O', 'P'])}'
AND l1.l_receiptdate > l1.l_commitdate
AND EXISTS (SELECT 1 FROM li l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
AND NOT EXISTS (SELECT 1 FROM li l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
  AND l3.l_receiptdate > l3.l_commitdate)
AND s_nationkey = n_nationkey AND n_name = '{nation(r)}'
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""


def q22(r):
    keys = ",".join(str(k) for k in sorted(r.sample(range(25), 7)))
    return f"""SELECT c_nationkey, COUNT(*) AS numcust, {osum('c_acctbal')} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT {oavg('c_acctbal')} FROM customer WHERE c_acctbal > 0.0)
AND c_nationkey IN ({keys})
AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey ORDER BY c_nationkey"""


TEMPLATES = [q1, q2, q3, q4, q5, q6, q7, q8, q9, q10, q11, q12, q13, q14, q15, q16,
             q17, q18, q19, q20, q21, q22]

_DATE_FORMAT = re.compile(r"date_format\((\w+), 'yyyy-MM-dd'\)")


def duckdb_sql(spark_sql):
    return _DATE_FORMAT.sub(r"strftime(\1, '%Y-%m-%d')", spark_sql)
