"""Seeded inputs for each workload, with the expected result digests.

Everything the program receives is made here from `--seed`: the naqed
request stream (Zipf-popular keys, paging walks whose `$after` cursors
carry the last row of the previous page) and the mutation steps with
their read-back requests. The suite is a fixed batch (`suite.txt`).
Expected digests come from DuckDB: one hand-written query per request
template, a DuckDB copy of `orders` that replays every mutation, and
for the suite the oracle query of each declared query.

    python3 perfbench/gen.py    # rewrite expected/suite.json from the oracle
"""
import json
import os
import random

import duckdb

from digest import of_rows

HERE = os.path.dirname(os.path.abspath(__file__))
SUITE_FILE = os.path.join(HERE, "suite.txt")
ORACLE_FILE = os.path.join(HERE, "expected", "oracle_sql.json")
EXPECTED_SUITE = os.path.join(HERE, "expected", "suite.json")
DATA = os.path.join(HERE, "data", "sf0.01")

# Traffic parameters and where each comes from (README.md, "Inputs"):
# - the template weights 40/15/20/10/10/5 are the workload's definition;
#   20 is the smallest block that holds them in whole slots;
# - one paging walk fills the 4 page slots of a block, so it is 4 pages;
# - a page holds uniform(1, 100) rows, drawn per walk: the scan length of
#   YCSB workload E (maxscanlength=100, uniform);
# - key popularity is Zipfian with YCSB's constant 0.99;
# - the write mix is TPC-C's write transactions, New-Order 45 : Payment
#   43 : Delivery 4, in a block of 23 as 11 inserts : 11 updates :
#   1 delete; a New-Order inserts one order, a Payment updates one row
#   by key, a Delivery removes the oldest order of each of 10 districts.
TEMPLATE_SLOTS = {"lookup": 8, "children": 3, "page": 4, "aggregate": 2,
                  "reach": 2, "sample": 1}
PAGES_PER_WALK = TEMPLATE_SLOTS["page"]
MAX_PAGE_SIZE = 100
ZIPF_S = 0.99
KIND_SLOTS = {"insert": 11, "update": 11, "delete": 1}
DELIVERY_ROWS = 10
REQUESTS_PER_SECOND = 8       # generated stream length per measured second
STEPS_PER_SECOND = 5 / 3           # mutation steps per measured second
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


class Zipf:
    """Zipf(s) popularity over `keys`, in a seeded popularity order."""

    def __init__(self, rng, keys, s=ZIPF_S):
        self.keys = list(keys)
        rng.shuffle(self.keys)
        w = [1.0 / (i + 1) ** s for i in range(len(self.keys))]
        total = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / total
            self.cdf.append(acc)
        self.rng = rng

    def draw(self):
        u = self.rng.random()
        lo, hi = 0, len(self.cdf) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return self.keys[lo]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ["region", "nation", "customer", "part", "orders", "lineitem"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    return con


def rows(con, sql, params=()):
    cur = con.execute(sql, list(params))
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def spark_sorted(items, fields):
    """Order of Spark's sort_array over structs: field by field, nulls
    first; nested lists compare element-wise, then by length."""
    def key(v):
        if v is None:
            return (0,)
        if isinstance(v, list):
            return (1, tuple(key(x) for x in v))
        return (1, v)
    return sorted(items, key=lambda it: tuple(key(it[f]) for f in fields))


# ------------------------------------------------------------ requests


def lookup(con, k):
    req = {"customer": {"$c_custkey": k, "c_name": True, "c_acctbal": True,
                        "balance_tier": True,
                        "nation": {"n_name": True, "region": {"r_name": True}}}}
    rs = rows(con, """
        SELECT c_custkey, c_name, c_acctbal,
               CASE WHEN c_acctbal >= 5000 THEN 'high'
                    WHEN c_acctbal >= 0 THEN 'mid' ELSE 'negative' END AS balance_tier,
               n_name, n_nationkey, r_name, r_regionkey
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
        WHERE c_custkey = ?""", [k])
    out = [{"c_custkey": r["c_custkey"], "c_name": r["c_name"], "c_acctbal": r["c_acctbal"],
            "balance_tier": r["balance_tier"],
            "nation": {"n_name": r["n_name"], "n_nationkey": r["n_nationkey"],
                       "region": {"r_name": r["r_name"], "r_regionkey": r["r_regionkey"]}}}
           for r in rs]
    return req, out


def children(con, k, n_orders=3, n_lines=2):
    req = {"customer": {"$c_custkey": k, "c_name": True,
                        "orders": {"$limit": n_orders, "o_orderdate": True,
                                   "o_totalprice": True,
                                   "lineitem": {"$limit": n_lines, "l_linenumber": True,
                                                "l_quantity": True}}}}
    cust = rows(con, "SELECT c_custkey, c_name FROM customer WHERE c_custkey = ?", [k])
    out = []
    for c in cust:
        orders = rows(con, """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
                              WHERE o_custkey = ?""", [k])
        items = []
        for o in orders:
            lines = rows(con, """SELECT l_linenumber, l_quantity, l_partkey, l_suppkey
                                 FROM lineitem WHERE l_orderkey = ?""", [o["o_orderkey"]])
            lines = spark_sorted(lines, ["l_linenumber", "l_quantity", "l_partkey", "l_suppkey"])
            o["lineitem"] = lines[:n_lines] if lines else None
            items.append(o)
        items = spark_sorted(items, ["o_orderdate", "o_totalprice", "lineitem", "o_orderkey"])
        out.append({"c_custkey": c["c_custkey"], "c_name": c["c_name"],
                    "orders": items[:n_orders] if items else None})
    return req, out


def page(con, priority, size, after):
    q = {"$o_orderpriority": priority, "$sort": "-o_totalprice", "$limit": size}
    where, params = "o_orderpriority = ?", [priority]
    if after is not None:
        q["$after"] = {"o_totalprice": after[0], "o_orderkey": after[1]}
        where += " AND (o_totalprice < ? OR (o_totalprice = ? AND o_orderkey > ?))"
        params += [after[0], after[0], after[1]]
    q.update({"o_orderkey": True, "o_totalprice": True, "o_orderstatus": True})
    out = rows(con, """SELECT o_orderkey, o_totalprice, o_orderstatus, o_custkey
                       FROM orders WHERE %s
                       ORDER BY o_totalprice DESC, o_orderkey, o_custkey LIMIT %d"""
               % (where, size), params)
    return {"orders": q}, out


def aggregate(con, min_price, group, min_n):
    req = {"orders": {"$min_o_totalprice": min_price, "$groupBy": group,
                      "$agg": {"n": "count", "total": "sum:o_totalprice",
                               "p95": "p95:o_totalprice"},
                      "$having": {"$min_n": min_n}}}
    out = rows(con, """
        SELECT %s, count(*) AS n, sum(o_totalprice) AS total,
               quantile_cont(o_totalprice, 0.95) AS p95
        FROM orders WHERE o_totalprice >= ? GROUP BY %s HAVING count(*) >= ?"""
               % (group, group), [min_price, min_n])
    return req, out


def reach(con, k, depth=2):
    req = {"part": {"$p_partkey": k, "co_parts": {"$depth": depth}}}
    seen = {k: 0}
    frontier = [k]
    for d in range(1, depth + 1):
        if not frontier:
            break
        nxt = rows(con, "SELECT DISTINCT t FROM ud WHERE s IN (SELECT unnest(?))", [frontier])
        frontier = [r["t"] for r in nxt if r["t"] not in seen]
        for v in frontier:
            seen[v] = d
    exists = rows(con, "SELECT count(*) AS n FROM part WHERE p_partkey = ?", [k])[0]["n"]
    out = [{"v": v, "depth": d} for v, d in seen.items()] if exists else []
    return req, out


def sample(con, rate):
    req = {"customer": {"$sample": rate, "$groupBy": "c_mktsegment",
                        "$agg": {"n": "count", "avg_bal": "avg:c_acctbal"}}}
    out = rows(con, """
        SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS avg_bal FROM customer
        WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4))::INTEGER < ?
        GROUP BY c_mktsegment""", [int(rate * 65536)])
    return req, out


def make_edges(con):
    # the co-purchase graph naqed's `co_parts` walks: part pairs
    # co-ordered in >= 2 orders, counted over every pair of lines
    con.execute("""
        CREATE TEMP TABLE ud AS
        WITH e AS (SELECT a.l_partkey AS s, b.l_partkey AS t
                   FROM lineitem a JOIN lineitem b
                     ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                   GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT s, t FROM e UNION ALL SELECT t AS s, s AS t FROM e""")


def schedule(slots, n):
    """The operation kinds of a run: blocks holding each kind its number
    of slots, shuffled by a fixed seed. The schedule is the same for
    every workload seed, so seeds vary the parameters and keys only."""
    srng = random.Random("schedule")
    out = []
    while len(out) < n:
        block = [k for k, c in slots.items() for _ in range(c)]
        srng.shuffle(block)
        out += block
    return out


def request_stream(con, rng, n, kinds=None):
    make_edges(con)
    cust = Zipf(rng, [r["k"] for r in rows(con, "SELECT c_custkey AS k FROM customer")])
    parts = Zipf(rng, [r["k"] for r in rows(con, "SELECT DISTINCT s AS k FROM ud ORDER BY 1")])
    all_prices = [r["p"] for r in rows(con, "SELECT o_totalprice AS p FROM orders ORDER BY 1")]
    prices = [all_prices[len(all_prices) * q // 100] for q in range(0, 90, 3)]
    price = Zipf(rng, prices)
    prio = Zipf(rng, PRIORITIES)
    # a paging walk fills its template's slots in a block with
    # consecutive pages
    slots = dict(TEMPLATE_SLOTS, page=TEMPLATE_SLOTS["page"] // PAGES_PER_WALK)
    out = []
    for t in kinds or schedule(slots, n):
        if len(out) >= n:
            break
        if t == "lookup":
            out.append(("lookup",) + lookup(con, cust.draw()))
        elif t == "children":
            out.append(("children",) + children(con, cust.draw()))
        elif t == "page":
            p, size, after = prio.draw(), rng.randint(1, MAX_PAGE_SIZE), None
            for _ in range(PAGES_PER_WALK):
                req, res = page(con, p, size, after)
                out.append(("page", req, res))
                if not res:
                    break
                after = (res[-1]["o_totalprice"], res[-1]["o_orderkey"])
        elif t == "aggregate":
            g = rng.choice(["o_orderpriority", "o_orderstatus"])
            out.append(("aggregate",) + aggregate(con, price.draw(), g, rng.choice([5, 50])))
        elif t == "reach":
            out.append(("reach",) + reach(con, parts.draw()))
        else:
            out.append(("sample",) + sample(con, rng.choice([0.1, 0.2, 0.3, 0.5])))
    return [{"t": t, "json": json.dumps(req), "expect": of_rows(res)} for t, req, res in out[:n]]


# ----------------------------------------------------------- mutations

READ_FIELDS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]


def mutation_stream(con, rng, n, table, kinds=None):
    """`n` insert/update/delete steps against a DuckDB copy `table` of
    orders, each followed by a read of the touched key range."""
    con.execute("CREATE TEMP TABLE %s AS SELECT * FROM orders" % table)
    next_key = rows(con, "SELECT max(o_orderkey) + 1 AS k FROM %s" % table)[0]["k"]
    keys = Zipf(rng, [r["k"] for r in rows(con, "SELECT o_orderkey AS k FROM orders")])
    custs = [r["k"] for r in rows(con, "SELECT c_custkey AS k FROM customer")]
    out = []
    for kind in kinds or schedule(KIND_SLOTS, n):
        if kind == "insert":
            lo = hi = next_key
            next_key += 1
            new = [{"o_orderkey": k, "o_custkey": rng.choice(custs),
                    "o_orderstatus": "O",
                    "o_totalprice": round(rng.uniform(1000, 400000), 2),
                    "o_orderdate": "2001-%02d-%02d 00:00:00" % (rng.randint(1, 12),
                                                                rng.randint(1, 28)),
                    "o_orderpriority": rng.choice(PRIORITIES)} for k in range(lo, hi + 1)]
            write = {"~orders": new}
            for r in new:
                con.execute("INSERT INTO %s VALUES (?, ?, ?, ?, CAST(? AS TIMESTAMP), ?)"
                            % table, [r[c] for c in ["o_orderkey", "o_custkey",
                                                      "o_orderstatus", "o_totalprice",
                                                      "o_orderdate", "o_orderpriority"]])
            count = 1
        else:
            if kind == "update":
                lo = hi = keys.draw()
            else:
                oldest = rows(con, "SELECT o_orderkey AS k FROM %s ORDER BY 1 LIMIT %d"
                              % (table, DELIVERY_ROWS))
                lo, hi = oldest[0]["k"], oldest[-1]["k"]
            rng_filter = {"$min_o_orderkey": lo, "$max_o_orderkey": hi}
            where = "o_orderkey BETWEEN %d AND %d" % (lo, hi)
            count = rows(con, "SELECT count(*) AS n FROM %s WHERE %s"
                         % (table, where))[0]["n"]
            if kind == "update":
                status = rng.choice(["F", "O", "P"])
                price = round(rng.uniform(1000, 400000), 2)
                write = {"~orders": dict(rng_filter, **{
                    "$set": {"o_orderstatus": status, "o_totalprice": price}})}
                con.execute("UPDATE %s SET o_orderstatus = ?, o_totalprice = ? WHERE %s"
                            % (table, where), [status, price])
            else:
                write = {"~orders": dict(rng_filter, **{"$delete": True})}
                con.execute("DELETE FROM %s WHERE %s" % (table, where))
        read = {"orders": dict({"$min_o_orderkey": lo, "$max_o_orderkey": hi},
                               **{f: True for f in READ_FIELDS})}
        got = rows(con, "SELECT %s FROM %s WHERE o_orderkey BETWEEN ? AND ?"
                   % (", ".join(READ_FIELDS), table), [lo, hi])
        out.append({"kind": kind, "write": json.dumps(write), "read": json.dumps(read),
                    "count": count, "expect": of_rows(got)})
    return out[:n]


# --------------------------------------------------------------- entry


def suite_names():
    with open(SUITE_FILE) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


def suite_expected(data_dir):
    """Expected digests of the suite's queries, from the DuckDB oracle
    query `graft.Verify` dumps for each (`expected/oracle_sql.json`,
    with the data directory as `{data}`). Slow: about 8 s."""
    with open(ORACLE_FILE) as f:
        sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return {n: of_rows(rows(con, sql[n].replace("{data}", data_dir))) for n in suite_names()}


def make(workload, seed, seconds, data_dir):
    """Inputs for one run: what the program receives, plus expectations."""
    rng = random.Random("%s:%d" % (workload, seed))
    # warm-up inputs come from their own stream, the same for every seed
    wrng = random.Random("%s:warmup" % workload)
    if workload == "suite":
        # a fixed batch: the seed changes nothing, so every run submits
        # the same queries in the same order
        return {"order": suite_names()}
    con = connect(data_dir)
    if workload == "requests":
        # half as many requests as the run, every template included: the
        # JIT compiles the request path in the warm-up, not in the timed
        # section
        n = REQUESTS_PER_SECOND * seconds
        warm = request_stream(con, wrng, max(n // 2, sum(TEMPLATE_SLOTS.values())))
        con.execute("DROP TABLE ud")
        return {"warmup": warm, "ops": request_stream(con, rng, n)}
    if workload == "mutations":
        # whole blocks of the kind schedule keep the mix exact
        block = sum(KIND_SLOTS.values())
        steps = block * max(1, round(STEPS_PER_SECOND * seconds / block))
        # two steps of each kind
        return {"warmup": mutation_stream(con, wrng, 2 * len(KIND_SLOTS), "warm_orders",
                                          2 * list(KIND_SLOTS)),
                "ops": mutation_stream(con, rng, steps, "run_orders")}
    raise ValueError("unknown workload %r" % workload)


if __name__ == "__main__":
    with open(EXPECTED_SUITE, "w") as f:
        json.dump(suite_expected(DATA), f, indent=1, sort_keys=True)
        f.write("\n")
