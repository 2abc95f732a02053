"""Inputs and expected outputs for the etl_cycle workload.

The generator replicates the sf0.1 fixtures COPIES times with disjoint key
ranges (each copy shifts its keys by the sf0.1 key-space size; nation stays
fixed), then derives from the seed which rows are deleted, mutated or new
in each sync target. DuckDB writes every input; the program only reads the
files.

`predict` recomputes, with DuckDB and from the same files, what every target
must hold after one task and one calc: each target's row count and
checksums of the columns the operation changes, and the calc result's
cnt/summa from the same bound SQL.
"""
import os
import random

import duckdb

# key-space size of each replicated key column at sf0.1 (max + 1)
STRIDE = dict(l_orderkey=150000, o_orderkey=150000, l_partkey=20000,
              p_partkey=20000, l_suppkey=1000, c_custkey=15000,
              o_custkey=15000)

CALC_SQL = """SELECT c.c_custkey, c.c_nationkey, count(*) AS cnt,
       sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS summa
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_totalprice > {min_price:Decimal(38,6)}
  AND year(o.o_orderdate) >= {min_year:UInt32}
  AND n.n_name >= {min_nation:String}
GROUP BY c.c_custkey, c.c_nationkey"""


def cents(col):
    return f"sum(CAST(round({col} * 100) AS BIGINT))"


# Row count and checksums per target, run by Spark over the written target
# and by DuckDB over the prediction; both engines read the SQL as is.
CHECKS = {
    "wh.lineitem": f"SELECT count(*) AS n, sum(l_orderkey) AS keys, {cents('l_extendedprice')} AS cents FROM t",
    "wh.orders": f"SELECT count(*) AS n, sum(o_orderkey) AS keys, {cents('o_totalprice')} AS cents FROM t",
    "wh.orders_bymax": "SELECT count(*) AS n, sum(o_orderkey) AS keys, max(o_orderkey) AS max_key FROM t",
    "wh.lineitem_notin": "SELECT count(*) AS n, sum(l_orderkey) AS keys, sum(l_linenumber) AS lines FROM t",
    "wh.customer": f"SELECT count(*) AS n, {cents('c_acctbal')} AS cents, sum(length(c_mktsegment)) AS seg_len FROM t",
    "wh.part": f"SELECT count(*) AS n, {cents('p_retailprice')} AS cents FROM t",
    "wh.ch_cust_revenue": "SELECT count(*) AS n, sum(cnt) AS cnt, sum(summa) AS summa FROM t",
    "ora.cust_revenue": "SELECT count(*) AS n, sum(cnt) AS cnt, sum(summa) AS summa FROM t",
    "wh.cust_revenue_cache": "SELECT count(*) AS n, sum(cnt) AS cnt, sum(summa) AS summa FROM t",
}

# which operation a target's check belongs to (a mismatch fails that operation)
CHECK_OP = {t: t for t in CHECKS}
CHECK_OP.update({"wh.ch_cust_revenue": "cust_revenue", "ora.cust_revenue": "cust_revenue",
                 "wh.cust_revenue_cache": "cust_revenue"})


def pick(key_expr, seed, salt, mod):
    """Deterministic row choice from the seed: true for about 1/mod of keys."""
    return (f"((({key_expr}) * 2654435761 + {seed * 7919 + salt * 104729}) "
            f"% 1000003) % {mod} = 0")


def replicate(fixtures, table, copies):
    src = os.path.join(fixtures, f"{table}.parquet")
    con = duckdb.connect()
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
    con.close()
    parts = []
    for c in range(copies):
        rep = [f"{k} + {c * STRIDE[k]} AS {k}" for k in cols if k in STRIDE]
        repl = f" REPLACE ({', '.join(rep)})" if rep else ""
        parts.append(f"SELECT *{repl} FROM '{src}'")
    return " UNION ALL ".join(parts)


def generate(fixtures, work, seed, copies, heartbeat_ms, degree=4):
    """Writes the sources and the pristine targets under `work`; returns
    the spec the harness reads."""
    rnd = random.Random(seed)
    src = os.path.join(work, "src")
    pristine = os.path.join(work, "pristine")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    con.execute("SET preserve_insertion_order = false")

    def out(sql, path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 100000)")

    def target(name):
        schema, table = name.split(".")
        return os.path.join(pristine, schema, table, "part-0.parquet")

    notin_copies = max(1, copies // 5)
    for t in ("lineitem", "orders", "customer", "part"):
        con.execute(f"CREATE VIEW {t} AS {replicate(fixtures, t, copies)}")
    con.execute(f"CREATE VIEW lineitem_k AS {replicate(fixtures, 'lineitem', notin_copies)}")

    # The seed picks which rows change; how many, the append_where window and
    # the calc parameters are fixed, so every seed costs the same work.
    where_year = 1998
    bymax_cut = int(copies * STRIDE["o_orderkey"] * 0.85) + rnd.randrange(100)
    params = {"min_price": "100000.0", "min_year": "1996", "min_nation": "NATION_15"}

    out("SELECT * FROM lineitem", os.path.join(src, "lineitem.parquet"))
    out("SELECT * FROM orders", os.path.join(src, "orders.parquet"))
    out("SELECT * FROM lineitem_k", os.path.join(src, "lineitem_notin.parquet"))
    out(f"SELECT * REPLACE (round(c_acctbal + ((c_custkey * 31 + {seed}) % 2000) / 100.0, 2) AS c_acctbal, "
        f"'MUT_' || c_mktsegment AS c_mktsegment) FROM customer WHERE {pick('c_custkey', seed, 4, 5)}",
        os.path.join(src, "customer_upd.parquet"))
    out(f"SELECT * REPLACE (round(p_retailprice + ((p_partkey * 17 + {seed}) % 500) / 100.0, 2) AS p_retailprice) "
        f"FROM part WHERE {pick('p_partkey', seed, 5, 4)}",
        os.path.join(src, "part_upd.parquet"))

    # pristine targets: deleted and stale orders, a watermark cut, missing keys
    out(f"SELECT * REPLACE (CASE WHEN {pick('o_orderkey', seed, 2, 7)} THEN o_totalprice + 1.0 "
        f"ELSE o_totalprice END AS o_totalprice) FROM orders WHERE NOT {pick('o_orderkey', seed, 1, 10)}",
        target("wh.orders"))
    out(f"SELECT * FROM orders WHERE o_orderkey < {bymax_cut}", target("wh.orders_bymax"))
    out(f"SELECT * FROM lineitem_k WHERE NOT {pick('l_orderkey * 8 + l_linenumber', seed, 3, 8)}",
        target("wh.lineitem_notin"))
    out("SELECT * FROM customer", target("wh.customer"))
    out("SELECT * FROM part", target("wh.part"))
    out(f"SELECT * FROM '{fixtures}/nation.parquet'", target("ref.nation"))
    # a local cache left by an earlier calc: one stale row per customer
    out("SELECT c_custkey, c_nationkey, CAST(0 AS BIGINT) AS cnt, "
        "CAST(0 AS DECIMAL(28,2)) AS summa FROM customer", target("wh.cust_revenue_cache"))
    con.close()

    # the warm-up runs on a tenth of the first copy
    stride = STRIDE["l_orderkey"] // 10
    tables = [
        {"op": "recreate", "table": "lineitem", "source": "lineitem",
         "prime_filter": f"l_orderkey < {stride}"},
        {"op": "append_where", "table": "orders", "source": "orders",
         "where": f"year(o_orderdate) >= {where_year}", "prime_filter": f"o_orderkey < {stride}"},
        {"op": "append_bymax", "table": "orders_bymax", "source": "orders", "by_max": "o_orderkey",
         "prime_filter": f"o_orderkey < {stride}"},
        {"op": "append_notin", "table": "lineitem_notin", "source": "lineitem_notin",
         "key": "l_orderkey,l_linenumber", "prime_filter": f"l_orderkey < {stride}"},
        {"op": "update", "table": "customer", "source": "customer_upd", "pk": "c_custkey",
         "update_fields": "c_acctbal,c_mktsegment", "prime_filter": f"c_custkey < {STRIDE['c_custkey'] // 10}"},
        {"op": "update", "table": "part", "source": "part_upd", "pk": "p_partkey",
         "update_fields": "p_retailprice", "prime_filter": f"p_partkey < {STRIDE['p_partkey'] // 10}"},
    ]
    return {
        "src_dir": src, "pristine_dir": pristine, "store_dir": os.path.join(work, "store"),
        "prime_store_dir": os.path.join(work, "prime-store"),
        "degree": degree, "heartbeat_ms": heartbeat_ms, "tables": tables,
        "calc": {"name": "cust_revenue", "sql": CALC_SQL, "params": params,
                 "ch_table": "wh.ch_cust_revenue", "copy_table": "ora.cust_revenue",
                 "copy_parts": 4, "copy_part_field": "c_custkey",
                 "cache_table": "wh.cust_revenue_cache", "slice_cols": ["c_nationkey"],
                 "views": {"lineitem": "wh.lineitem", "orders": "wh.orders",
                           "customer": "wh.customer", "nation": "ref.nation"}},
        "checks": CHECKS,
    }


def source_bytes_per_row(spec):
    """On-disk bytes per row of each source file, for write amplification."""
    con = duckdb.connect()
    out = {}
    for t in spec["tables"]:
        path = os.path.join(spec["src_dir"], t["source"] + ".parquet")
        rows = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        out["wh." + t["table"]] = os.path.getsize(path) / max(1, rows)
    con.close()
    return out


def predict(spec, bound_calc_sql):
    """Expected check values per target, as strings, from DuckDB."""
    src, pristine = spec["src_dir"], spec["pristine_dir"]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(src), 'duckdb-tmp')}'")

    def p(name):
        schema, table = name.split(".")
        return f"'{os.path.join(pristine, schema, table)}/*.parquet'"

    def s(name):
        return f"'{os.path.join(src, name)}.parquet'"

    t = {x["table"]: x for x in spec["tables"]}
    where = t["orders"]["where"]
    views = {
        "wh.lineitem": f"SELECT * FROM {s('lineitem')}",
        "wh.orders": f"SELECT * FROM {p('wh.orders')} WHERE NOT coalesce({where}, false) "
                     f"UNION ALL SELECT * FROM {s('orders')} WHERE {where}",
        "wh.orders_bymax": f"SELECT * FROM {p('wh.orders_bymax')} UNION ALL SELECT * FROM {s('orders')} "
                           f"WHERE o_orderkey > (SELECT max(o_orderkey) FROM {p('wh.orders_bymax')})",
        "wh.lineitem_notin": f"SELECT * FROM {p('wh.lineitem_notin')} UNION ALL SELECT * FROM "
                             f"{s('lineitem_notin')} x WHERE NOT EXISTS (SELECT 1 FROM {p('wh.lineitem_notin')} y "
                             "WHERE y.l_orderkey = x.l_orderkey AND y.l_linenumber = x.l_linenumber)",
        "wh.customer": f"SELECT b.c_custkey, b.c_name, b.c_nationkey, "
                       "CASE WHEN u.c_custkey IS NULL THEN b.c_acctbal ELSE u.c_acctbal END AS c_acctbal, "
                       "CASE WHEN u.c_custkey IS NULL THEN b.c_mktsegment ELSE u.c_mktsegment END AS c_mktsegment "
                       f"FROM {p('wh.customer')} b LEFT JOIN {s('customer_upd')} u USING (c_custkey)",
        "wh.part": "SELECT b.p_partkey, CASE WHEN u.p_partkey IS NULL THEN b.p_retailprice "
                   "ELSE u.p_retailprice END AS p_retailprice "
                   f"FROM {p('wh.part')} b LEFT JOIN {s('part_upd')} u USING (p_partkey)",
    }
    for name, sql in views.items():
        con.execute(f'CREATE VIEW "{name}" AS {sql}')
    for alias, target in spec["calc"]["views"].items():
        src_sql = f'SELECT * FROM "{target}"' if target in views else f"SELECT * FROM {p(target)}"
        con.execute(f"CREATE VIEW {alias} AS {src_sql}")
    con.execute(f"CREATE TABLE calc_result AS {bound_calc_sql}")
    con.execute('CREATE VIEW "wh.ch_cust_revenue" AS SELECT * FROM calc_result')
    con.execute('CREATE VIEW "ora.cust_revenue" AS SELECT * FROM calc_result')
    con.execute(f'CREATE VIEW "wh.cust_revenue_cache" AS SELECT * FROM {p("wh.cust_revenue_cache")} '
                "WHERE c_nationkey NOT IN (SELECT DISTINCT c_nationkey FROM calc_result) "
                "UNION ALL SELECT * FROM calc_result")
    expected = {}
    for target, sql in spec["checks"].items():
        con.execute(f'CREATE OR REPLACE VIEW t AS SELECT * FROM "{target}"')
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        row = cur.fetchone()
        expected[target] = {k: render(v) for k, v in zip(names, row)}
    con.close()
    return expected


def render(v):
    """The check values' common text form (Decimal and int render plainly)."""
    if v is None:
        return "null"
    return format(v, "f") if hasattr(v, "as_tuple") else str(v)
