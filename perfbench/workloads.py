"""Workload generation and result checking for the pgwire benchmark.

`make_plan` writes, from the workload seed alone, every statement a run
may send (the harness stops at the end of the timed window) plus the COPY
payloads. `check` recomputes each executed statement's expected result
with DuckDB over the same parquet the engine loaded and returns the ids of
statements that failed, with a reason. Nothing is dropped: an error, a
timeout and a wrong answer all count as failed.
"""
import bisect
import datetime
import math
import os
import random

import duckdb

import datagen
import tpch

DDL = {
    "region": "r_regionkey int, r_name varchar",
    "nation": "n_nationkey int, n_name varchar, n_regionkey int",
    "supplier": "s_suppkey bigint, s_name varchar, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name varchar, p_brand varchar, p_type varchar, p_size int, "
            "p_retailprice double",
    "customer": "c_custkey bigint, c_name varchar, c_nationkey int, c_acctbal double, "
                "c_mktsegment varchar",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus varchar, o_totalprice double, "
              "o_orderdate timestamp, o_orderpriority varchar",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
                "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag varchar, l_linestatus varchar, l_shipdate timestamp",
}
LINEITEM_COLS = [c.split()[0] for c in DDL["lineitem"].split(", ")]

WORKLOADS = {
    # TPC-H power stream: one connection, fresh literals on every statement
    "tpch_power": {"tables": datagen.TABLES, "mode": "closed", "conns": 1},
    # open-loop key lookups over the extended protocol
    "point_lookup": {"tables": ["supplier", "customer", "orders"], "mode": "open", "conns": 4},
    # COPY/DML writer beside an aggregate/export reader on the same table
    "etl_mix": {"tables": ["lineitem"], "mode": "closed", "conns": 2},
}

# point_lookup offered rate (statements/s), below the 4-connection capacity
# measured at sf0.1 on 4 cores; recorded in every run's metadata
OFFERED_RATE = 15.0
# Zipf exponent of the key popularity
ZIPF_S = 1.1
# first l_orderkey of the writer's blocks, above every generated order key
WRITE_BASE = 1_000_000


def latency_class(workload, cls):
    """The statement classes class_geomean_ms weighs equally: each TPC-H
    template; all lookups as one (the small per-kind samples swing between
    plan-cache hits and misses); the writer's statements as one (each kind
    runs once per cycle and the small ones swing with statement-lock
    waits), the aggregates and the exports."""
    if workload == "point_lookup":
        return "lookup"
    if workload == "etl_mix" and cls.startswith("w_"):
        return "write"
    return cls


def esc(s):
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")


def _write_stmts(path, stmts):
    with open(path, "w") as f:
        for s in stmts:
            f.write("\t".join([str(s["role"]), s["cls"], s["proto"], str(s.get("sched_us", 0)),
                               s.get("keep", "rows"), esc(s["sql"]), esc(s.get("param", "")),
                               s.get("copy", "")]) + "\n")


def stmt(role, cls, sql, **kw):
    d = {"role": role, "cls": cls, "proto": "Q", "sql": sql}
    d.update(kw)
    return d


# ---------------------------------------------------------------- plans

def make_plan(plan_dir, workload, seed, sf, seconds, trace, data_dir, work_dir, inject=None):
    """Writes the run's plan files; returns (config, statements), where a
    statement's index is the id the harness reports it under."""
    spec = WORKLOADS[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    os.makedirs(plan_dir, exist_ok=True)
    conf = {
        "workload": workload, "seconds": seconds, "trace": trace, "cpus": 4,
        "sf": sf, "seed": seed, "data_dir": data_dir, "work_dir": work_dir,
        "tables": ",".join(spec["tables"]),
        "mode": spec["mode"], "open_conns": spec["conns"],
        "space_amp": 1 if workload == "etl_mix" else 0,
        "replay_reads": 40 if workload == "point_lookup" else 12,
        "replay_copy": 1 if workload == "etl_mix" else 0,
    }
    for t in spec["tables"]:
        conf["ddl." + t] = DDL[t]
    gen = {"tpch_power": _tpch, "point_lookup": _lookups, "etl_mix": _etl}[workload]
    warmup, stmts, extra = gen(rng, plan_dir, sf, seconds, data_dir)
    conf.update(extra)
    if inject == "error":
        stmts[0] = dict(stmts[0], cls="injected", sql="select * from no_such_table", proto="Q",
                        param="", copy="")
    with open(os.path.join(plan_dir, "config.tsv"), "w") as f:
        for k, v in conf.items():
            f.write("%s\t%s\n" % (k, v))
    _write_stmts(os.path.join(plan_dir, "warmup.tsv"), warmup)
    _write_stmts(os.path.join(plan_dir, "statements.tsv"), stmts)
    return conf, stmts


def _tpch(rng, plan_dir, sf, seconds, data_dir):
    # the first TPC-H statements a fresh JVM plans run about twice as slow:
    # set-up plans every template once (EXPLAIN, fixed literals, spread
    # over 4 connections) and executes three join-heavy ones
    fixed = random.Random("warmup")
    warmup = [stmt(0, "warmup", "select count(*) from %s" % t) for t in datagen.TABLES] + \
        [stmt(i % 4, "warmup", "EXPLAIN " + t(fixed)) for i, t in enumerate(tpch.TEMPLATES)] + \
        [stmt(0, "warmup", tpch.TEMPLATES[q - 1](fixed)) for q in (9, 18, 21)]
    stmts = []
    # a text the engine saw before is a plan-cache hit that also reuses its
    # shuffle stages: redraw literals until the text is new (q13 has 5
    # priorities and q9 6 colours, enough for the streams planned)
    seen = {s["sql"] for s in warmup} | {s["sql"][len("EXPLAIN "):] for s in warmup}

    def fresh(q):
        for _ in range(100):
            sql = tpch.TEMPLATES[q](rng)
            if sql not in seen:
                break
        seen.add(sql)
        return sql
    # whole streams, each a fresh permutation of the 22 templates: the
    # harness runs streams whole, so every template has the same number of
    # samples
    for _ in range(max(4, seconds // 3)):
        order = list(range(22))
        rng.shuffle(order)
        for q in order:
            stmts.append(stmt(0, "q%d" % (q + 1), fresh(q)))
    return warmup, stmts, {"cycle.0": 22}


LOOKUPS = {
    "orders": "select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
              "o_orderpriority from orders where o_orderkey = $1",
    "customer": "select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                "from customer where c_custkey = $1",
    "supplier_agg": "select count(*) as n, sum(cast(round(s_acctbal * 100) as bigint)) as cents "
                    "from supplier where s_nationkey = $1",
}


class Zipf:
    def __init__(self, rng, n_keys, distinct, s=ZIPF_S):
        self.keys = rng.sample(range(n_keys), min(distinct, n_keys))
        acc, self.cdf = 0.0, []
        for k in range(1, len(self.keys) + 1):
            acc += 1.0 / k ** s
            self.cdf.append(acc)

    def draw(self, rng):
        return self.keys[bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])]


def _lookups(rng, plan_dir, sf, seconds, data_dir):
    n = datagen.sizes(sf)
    orders = Zipf(rng, n["orders"], 20000)
    customers = Zipf(rng, n["customer"], 10000)
    # lookup latency halves over the first ~150 statements a fresh JVM
    # serves; set-up sends that many on the 4 connections. Their keys are
    # ones the run never looks up (no supplier has nation key 25 or more),
    # so no warm-up text is left in the plan cache for the run to hit.
    fixed = random.Random("warmup")
    spare = {t: sorted(set(range(n[t])) - set(z.keys)) or [-1]
             for t, z in [("orders", orders), ("customer", customers)]}
    warmup = []
    for i in range(70):
        warmup += [stmt(i % 4, "warmup", LOOKUPS["orders"], proto="X",
                        param=str(fixed.choice(spare["orders"]))),
                   stmt((i + 2) % 4, "warmup", LOOKUPS["customer"], proto="X",
                        param=str(fixed.choice(spare["customer"])))]
    warmup += [stmt(k % 4, "warmup", LOOKUPS["supplier_agg"], proto="X", param=str(25 + k))
               for k in range(25)]
    # a Poisson process conditioned on its count: exactly rate x seconds
    # arrivals, at uniformly drawn times, so every seed offers the same load
    stmts = []
    for t in sorted(rng.uniform(0, seconds) for _ in range(int(OFFERED_RATE * seconds))):
        u = rng.random()
        if u < 0.45:
            cls, key = "orders", orders.draw(rng)
        elif u < 0.9:
            cls, key = "customer", customers.draw(rng)
        else:
            cls, key = "supplier_agg", rng.randrange(25)
        stmts.append(stmt(-1, cls, LOOKUPS[cls], proto="X", param=str(key),
                          sched_us=int(t * 1e6)))
    return warmup, stmts, {"offered_rate": OFFERED_RATE}


def _etl_blocks(sf):
    rows = max(200, int(200000 * sf))   # COPY payload rows per writer cycle
    return rows, rows // 4               # 4 lines per new order key


def _payload(con, path, base, rows, off):
    """Rows [off, off + rows) of lineitem (table `li`, numbered `rn` in file
    order), re-keyed to the block at `base` with unique (l_orderkey,
    l_linenumber), in pg's text COPY format."""
    con.execute(f"""COPY (SELECT {base} + ((rn - {off}) // 4) AS l_orderkey, l_partkey, l_suppkey,
          1 + ((rn - {off}) % 4) AS l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
          l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate
        FROM li WHERE rn >= {off} AND rn < {off + rows} ORDER BY rn)
        TO '{path}' (FORMAT CSV, DELIMITER '\t', HEADER false)""")


def _writer_cycle(rng, table, base, payload, orders_per_block, cls=None):
    """One writer cycle on `table` for the block of order keys at `base`."""
    c = (lambda k: k) if cls is None else (lambda k: cls)
    half = orders_per_block // 2
    u0 = base + rng.randrange(orders_per_block - 12)
    m0 = base + rng.randrange(orders_per_block - 25)
    cols = ", ".join(LINEITEM_COLS)
    shifted = cols.replace("l_orderkey", "l_orderkey + 50000", 1)
    staged = cols.replace("l_quantity", "l_quantity + 2", 1)
    moved = cols.replace("l_orderkey", "l_orderkey + 90000", 1)
    return [
        stmt(0, c("w_copy"), "COPY %s FROM STDIN" % table, copy=payload),
        stmt(0, c("w_insert"), f"INSERT INTO {table} SELECT {shifted} FROM {table} "
                               f"WHERE l_orderkey >= {base} AND l_orderkey < {base + half}"),
        stmt(0, c("w_update"), f"UPDATE {table} SET l_quantity = l_quantity + 1, "
                               f"l_discount = {rng.randint(0, 10) / 100} "
                               f"WHERE l_orderkey >= {u0} AND l_orderkey < {u0 + 12}"),
        # staging: 25 orders that exist (updated by the MERGE) and the
        # same orders moved past the block end (inserted by it)
        stmt(0, c("w_stage"), f"INSERT INTO lineitem_stage SELECT {staged} FROM {table} "
                              f"WHERE l_orderkey >= {m0} AND l_orderkey < {m0 + 25} "
                              f"UNION ALL SELECT {moved} FROM {table} "
                              f"WHERE l_orderkey >= {m0} AND l_orderkey < {m0 + 25}"),
        stmt(0, c("w_merge"), f"MERGE INTO {table} USING lineitem_stage "
                              f"ON {table}.l_orderkey = lineitem_stage.l_orderkey "
                              f"AND {table}.l_linenumber = lineitem_stage.l_linenumber "
                              "WHEN MATCHED THEN UPDATE SET l_quantity = lineitem_stage.l_quantity "
                              "WHEN NOT MATCHED THEN INSERT VALUES (%s)"
                              % ", ".join("lineitem_stage." + k for k in LINEITEM_COLS)),
        # drop every earlier cycle's rows: the live row count stays put
        stmt(0, c("w_delete"), f"DELETE FROM {table} WHERE l_orderkey >= {WRITE_BASE} "
                               f"AND l_orderkey < {base}"),
        stmt(0, c("w_stage_clear"), "DELETE FROM lineitem_stage"),
    ]


def _etl(rng, plan_dir, sf, seconds, data_dir):
    n = datagen.sizes(sf)
    rows, orders_per_block = _etl_blocks(sf)
    cycles = max(4, seconds // 3)
    con = duckdb.connect()
    con.execute("SET threads = 1")   # numbers the rows in file order
    con.execute("CREATE TABLE li AS SELECT *, row_number() OVER () - 1 AS rn FROM read_parquet('%s')"
                % os.path.join(data_dir, "lineitem.parquet"))
    writer = []
    for c in range(cycles):
        base = WRITE_BASE + c * 100_000
        payload = "copy_%d.txt" % c
        _payload(con, os.path.join(plan_dir, payload), base, rows,
                 rng.randrange(n["lineitem"] - rows))
        writer += _writer_cycle(rng, "lineitem", base, payload, orders_per_block)
    reader = []
    export_hi = n["orders"] * 5 // 12   # ~41% of lineitem: ~250k rows at sf0.1
    for i in range(cycles * 12):
        if i % 2 == 0:
            lo = rng.randrange(n["orders"] * 2 // 3, n["orders"])
            reader.append(stmt(1, "r_agg",
                               "SELECT l_returnflag, COUNT(*) AS n, "
                               "SUM(CAST(l_quantity AS BIGINT)) AS qty, "
                               "SUM(CAST(round(l_discount * 100) AS BIGINT)) AS disc "
                               f"FROM lineitem WHERE l_orderkey >= {lo} "
                               "GROUP BY l_returnflag ORDER BY l_returnflag"))
        else:
            hi = export_hi + rng.randrange(-n["orders"] // 50, n["orders"] // 50)
            reader.append(stmt(1, "r_export",
                               "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
                               f"CAST(l_quantity AS BIGINT) FROM lineitem WHERE l_orderkey < {hi}",
                               keep="digest"))
    # the first writer cycle and exports a fresh JVM runs are up to twice
    # as slow: set-up runs one writer cycle on a scratch copy of a sixth of
    # lineitem (fixed keys and payload), drops it, and runs two of each read
    fixed = random.Random("warmup")
    _payload(con, os.path.join(plan_dir, "copy_warmup.txt"), WRITE_BASE, rows, 0)
    con.close()
    warmup = [stmt(0, "warmup", "CREATE TABLE lineitem_stage (%s)" % DDL["lineitem"]),
              stmt(0, "warmup", "CREATE TABLE lineitem_warmup (%s)" % DDL["lineitem"]),
              stmt(0, "warmup", "INSERT INTO lineitem_warmup SELECT * FROM lineitem "
                                "WHERE l_orderkey < %d" % (n["orders"] // 6))] + \
        _writer_cycle(fixed, "lineitem_warmup", WRITE_BASE, "copy_warmup.txt", orders_per_block,
                      cls="warmup") + \
        [stmt(0, "warmup", "DROP TABLE lineitem_warmup")] + \
        [dict(r, role=0, cls="warmup") for r in reader[:4]]
    # the writer runs whole cycles; the reader runs as long as the writer
    # does
    return warmup, writer + reader, {"cycle.0": 7, "follows.1": 0}


# ---------------------------------------------------------------- checks

def _cell(v):
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (".%06d" % v.microsecond).rstrip("0") if v.microsecond else s
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (int, float)) or v is None:
        return v
    return str(v)


def _coerce(text, like):
    """The wire text of one cell, read as the type DuckDB gave it."""
    if text is None:
        return None
    if isinstance(like, bool):
        return text
    if isinstance(like, int):
        return int(text)
    if isinstance(like, float):
        return float(text)
    return text


def rows_match(got, want):
    """Row multisets equal, cell by cell, after canonicalisation (the
    comparison tools/check_oracle.py makes, with rows in SELECT order)."""
    if len(got) != len(want):
        return "rows got=%d want=%d" % (len(got), len(want))
    want = [tuple(_cell(v) for v in r) for r in want]
    if not want:
        return None
    ncol = len(want[0])
    like = [next((r[i] for r in want if r[i] is not None), "") for i in range(ncol)]
    try:
        got = [tuple(_coerce(r[i], like[i]) for i in range(ncol)) for r in got]
    except (ValueError, IndexError) as e:
        return "undecodable row: %s" % e

    def key(r):
        return tuple((0, "") if v is None else (1, v) for v in r)
    got.sort(key=key)
    want.sort(key=key)
    for g, w in zip(got, want):
        if g != w:
            return "row got=%r want=%r" % (g, w)
    return None


def oracle(data_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    return con


def check(workload, plan_dir, data_dir, stmts, records, corrupt=False):
    """-> {statement id: reason} for every executed statement that failed.
    `corrupt` changes one value in every expected result and keeps its
    row count (the self-test proving that a wrong value fails the run)."""
    failed = {}
    for r in records:
        if r["error"] is not None:
            failed[r["id"]] = "error: " + r["error"]
    ok = [r for r in records if r["id"] not in failed]
    fn = {"tpch_power": _check_tpch, "point_lookup": _check_lookups, "etl_mix": _check_etl}[workload]
    fn(plan_dir, data_dir, stmts, ok, failed, corrupt)
    return failed


def _perturb(rows):
    """The rows with one numeric cell, the first there is, plus one; a
    result without numeric cells is returned as it is."""
    rows = [list(r) for r in rows]
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                r[i] = v + 1
                return [tuple(x) for x in rows]
    return [tuple(x) for x in rows]


def _check_tpch(plan_dir, data_dir, stmts, recs, failed, corrupt):
    con = oracle(data_dir, datagen.TABLES)
    for r in recs:
        want = con.execute(tpch.duckdb_sql(stmts[r["id"]]["sql"])).fetchall()
        if corrupt:
            want = _perturb(want)
        why = rows_match(r["rows"], want)
        if why:
            failed[r["id"]] = why


def _check_lookups(plan_dir, data_dir, stmts, recs, failed, corrupt):
    con = oracle(data_dir, WORKLOADS["point_lookup"]["tables"])
    by_cls = {}
    for r in recs:
        by_cls.setdefault(r["cls"], set()).add(int(stmts[r["id"]]["param"]))
    want = {}
    for cls, keys in by_cls.items():
        sql = LOOKUPS[cls].replace("= $1", "IN (%s)" % ",".join(map(str, sorted(keys))))
        if cls == "supplier_agg":
            sql = sql.replace("select ", "select s_nationkey, ", 1) + " group by s_nationkey"
        for row in con.execute(sql).fetchall():
            if cls == "supplier_agg":
                want[(cls, row[0])] = [row[1:]]
            else:
                want[(cls, row[0])] = [row]
        if cls == "supplier_agg":   # a nation without suppliers still counts 0
            for k in keys:
                want.setdefault((cls, k), [(0, None)])
    for r in recs:
        w = want.get((r["cls"], int(stmts[r["id"]]["param"])), [])
        if corrupt:
            w = _perturb(w)
        why = rows_match(r["rows"], w)
        if why:
            failed[r["id"]] = why


def _check_etl(plan_dir, data_dir, stmts, recs, failed, corrupt):
    """Replays the writer's executed statements in DuckDB, in order, and
    checks each DML tag; each reader aggregate must equal the table's state
    after some write that could have been visible to it, and each export
    (a key range no write touches) its digest over the loaded data."""
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem AS SELECT * FROM read_parquet('%s')"
                % os.path.join(data_dir, "lineitem.parquet"))
    con.execute("CREATE TABLE lineitem_stage AS SELECT * FROM lineitem LIMIT 0")
    writes = sorted((r for r in recs if r["cls"].startswith("w_")), key=lambda r: r["start"])
    reads = [r for r in recs if r["cls"] == "r_agg"]
    n_writes = len(writes)

    def agg(sql):
        return con.execute(sql).fetchall()

    # candidate states for each reader aggregate: those after k writes,
    # wlo <= k <= whi + 1 (one write may be committed but unacknowledged)
    pending = {r["id"]: (r, max(0, r["wlo"]), min(n_writes, r["whi"] + 1)) for r in reads}
    matched = set()

    def visit(k):
        for rid, (r, lo, hi) in pending.items():
            if rid not in matched and lo <= k <= hi:
                w = agg(stmts[rid]["sql"])
                if corrupt:
                    w = _perturb(w)
                if rows_match(r["rows"], w) is None:
                    matched.add(rid)

    visit(0)
    for k, r in enumerate(writes, start=1):
        s = stmts[r["id"]]
        tag = _duck_write(con, plan_dir, s)
        if corrupt:
            verb, n = tag.rsplit(" ", 1)
            tag = "%s %d" % (verb, int(n) + 1)
        if r["tag"] != tag:
            failed[r["id"]] = "tag got=%r want=%r" % (r["tag"], tag)
        visit(k)
    for rid in pending:
        if rid not in matched:
            failed[rid] = "aggregate matches no state the write sequence passed through"

    exports = [r for r in recs if r["cls"] == "r_export"]
    if exports:
        base = duckdb.connect()
        base.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet('%s')"
                     % os.path.join(data_dir, "lineitem.parquet"))
        for r in exports:
            want = export_digest(base, stmts[r["id"]]["sql"])
            if corrupt:   # a column sum, not the row count
                want = want[:1] + [want[1] + 1] + want[2:]
            if r["digest"] != want:
                failed[r["id"]] = "digest got=%r want=%r" % (r["digest"], want)


def export_digest(con, sql):
    """The harness's Digest over the same rows: count, per-column sums and
    the sum of per-row mixes, each wrapped to signed 64 bits."""
    m = 1 << 64
    mix = "c0"
    for c in ["c1", "c2", "c3", "c4"]:
        mix = "(%s) * 1000003 + %s" % (mix, c)
    row = con.execute("SELECT COUNT(*), SUM(c0), SUM(c1), SUM(c2), SUM(c3), SUM(c4), "
                      "SUM((%s::HUGEINT) %% %d) FROM (%s) AS t(c0, c1, c2, c3, c4)"
                      % (mix.replace("c0", "c0::HUGEINT", 1), m, sql)).fetchone()
    return [((int(a or 0) % m) + (1 << 63)) % m - (1 << 63) for a in row]


def _duck_write(con, plan_dir, s):
    sql = s["sql"]
    if s["cls"] == "w_copy":
        path = os.path.join(plan_dir, s["copy"])
        cols = ", ".join("'%s': '%s'" % (c.split()[0], c.split()[1].upper())
                         for c in DDL["lineitem"].split(", "))
        n = con.execute("INSERT INTO lineitem SELECT * FROM read_csv('%s', delim='\t', header=false, "
                        "columns={%s})" % (path, cols)).fetchone()[0]
        return "COPY %d" % n
    if s["cls"] == "w_merge":
        on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
        upd = con.execute("UPDATE lineitem t SET l_quantity = s.l_quantity FROM lineitem_stage s "
                          "WHERE " + on).fetchone()[0]
        ins = con.execute("INSERT INTO lineitem SELECT * FROM lineitem_stage s WHERE NOT EXISTS "
                          "(SELECT 1 FROM lineitem t WHERE %s)" % on).fetchone()[0]
        return "MERGE %d" % (upd + ins)
    n = con.execute(sql).fetchone()[0]
    verb = sql.split()[0].upper()
    return ("INSERT 0 %d" if verb == "INSERT" else verb + " %d") % n


def percentile(xs, p):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p
    f = math.floor(k)
    c = min(f + 1, len(xs) - 1)
    return xs[f] + (xs[c] - xs[f]) * (k - f)
