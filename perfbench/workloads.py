"""The benchmark's workloads: what each runs, and how its outputs are checked.

The seed chooses what the engine sees — the statement stream of
sql_interactive, the query order of the batch workloads — and nothing else:
every run reads the same test tables (perfbench/data).
"""
import datetime
import hashlib
import json
import os
import random
import sys

import duckdb
import pandas as pd

# `tail`: the percentile op_tail_ms reports. A 25-second run gives
# sql_interactive eight to ten passes of 15 statements (p90 has at least
# ten beyond it); a batch run gives five or six passes of three queries,
# too few for any percentile above the median, so its tail is the slowest
# query's median.
WORKLOADS = {
    "sql_interactive": {"tail": 90},
    "graph_dedup": {"tail": 100,
                    "queries": ["q_triangles", "q_dedup_ppjoin", "q_label_prop"]},
    "text_vector": {"tail": 100,
                    "queries": ["q_dedup_minhash", "q_minhash_rollup", "q_ann_pq"]},
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# ------------------------------------------------------------- sql_interactive

BASE_TABLES = ["orders", "lineitem", "customer", "part"]
VARIANTS = 12   # literal sets per read template
PASSES = 100    # more than any run completes
# Untimed blocks after the first statements: planning and code generation
# run in interpreted and lightly compiled code at first. Pass times keep
# falling slowly through a run (from about 2.9 s to 2.4 s over ten passes),
# the same way in every run; one block is enough for steady medians.
WARMUP_BLOCKS = 1

# value domains of the test tables' columns the literals draw from
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _dates(r):
    lo = datetime.date(1995, 1, 1) + datetime.timedelta(days=r.randint(0, 2400))
    return lo, lo + datetime.timedelta(days=r.randint(30, 400))


# name -> literal-set generator -> SQL. Every ORDER BY is total, so the row
# order is defined; money sums go through DECIMAL so both engines agree exactly.
READS = {
    "proj_orders": lambda r: (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
        f"WHERE o_totalprice > {r.randint(1000, 490000)} AND o_orderstatus = '{r.choice('FOP')}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
    "like_part": lambda r: (
        "SELECT p_partkey, p_name, p_brand, p_retailprice FROM part "
        f"WHERE p_name LIKE '{r.choice(PART_ADJ)}%' "
        f"AND p_size BETWEEN {(a := r.randint(1, 45))} AND {a + r.randint(0, 5)} "
        "ORDER BY p_partkey LIMIT 20"),
    "like_suffix": lambda r: (
        "SELECT p_type, COUNT(*) AS n, MIN(p_retailprice) AS lo FROM part "
        f"WHERE p_name LIKE '%{r.choice(PART_NOUN)}' GROUP BY p_type ORDER BY p_type"),
    "cast_arith": lambda r: (
        "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS qty, "
        "l_extendedprice * (1 - l_discount) AS net, l_tax + 1 AS tax_factor FROM lineitem "
        f"WHERE l_partkey = {r.randint(0, 1999)} "
        "ORDER BY l_orderkey, l_linenumber, qty, net, tax_factor"),
    "global_agg": lambda r: (
        "SELECT COUNT(*) AS n, SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS revenue, "
        "AVG(l_quantity) AS avg_qty, MIN(l_discount) AS min_disc, MAX(l_tax) AS max_tax "
        "FROM lineitem WHERE l_shipdate BETWEEN DATE '{}' AND DATE '{}'".format(*_dates(r))),
    "group_agg": lambda r: (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty, MAX(l_extendedprice) AS max_price "
        f"FROM lineitem WHERE l_discount >= {r.randint(0, 9) / 100} "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "topk_group": lambda r: (
        "SELECT o_custkey, COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS total "
        f"FROM orders WHERE o_orderpriority = '{r.choice(PRIORITIES)}' "
        "GROUP BY o_custkey ORDER BY total DESC, o_custkey LIMIT 10"),
    "join_agg": lambda r: (
        "SELECT c_mktsegment, COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS total "
        f"FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = {r.randint(0, 24)} "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "csv_is_null": lambda r: (
        "SELECT c_mktsegment, COUNT(*) AS n FROM w_cust WHERE c_acctbal IS NULL "
        f"AND c_nationkey BETWEEN {(a := r.randint(0, 19))} AND {a + 5} "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "csv_scan": lambda r: (
        "SELECT c_custkey, c_name, c_acctbal FROM w_cust "
        f"WHERE c_acctbal > {r.randint(0, 9000)} AND c_mktsegment = '{r.choice(SEGMENTS)}' "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 10"),
    "ndjson_scan": lambda r: (
        "SELECT o_orderpriority, SUM(n) AS n, MAX(top) AS top FROM w_rev "
        f"WHERE o_orderstatus <> '{r.choice('FOP')}' GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "parquet_scan": lambda r: (
        "SELECT p_brand, COUNT(*) AS n, MAX(p_retailprice) AS top FROM w_parts "
        f"WHERE p_size < {r.randint(2, 30)} GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 5"),
}

# name -> (source query, format, column list for the DDL or None)
WRITES = {
    "w_cust": ("SELECT c_custkey, c_name, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END "
               "AS c_acctbal, c_mktsegment, c_nationkey FROM customer", "csv",
               "c_custkey BIGINT, c_name VARCHAR, c_acctbal DOUBLE, c_mktsegment VARCHAR, "
               "c_nationkey INT"),
    "w_rev": ("SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, MAX(o_totalprice) AS top "
              "FROM orders GROUP BY o_orderpriority, o_orderstatus", "ndjson",
              "o_orderpriority VARCHAR, o_orderstatus VARCHAR, n BIGINT, top DOUBLE"),
    "w_parts": ("SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part "
                "WHERE p_size <= 30", "parquet", None),
}


def _cell(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if type(v).__name__ == "Decimal":
        return {"dec": str(v)}
    raise TypeError(f"unexpected result type {type(v)}")


def _expected(data, sqls, cache_dir):
    """DuckDB's rows for each read, cached per data set, SQL text and the
    definitions of the written tables."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, "sql-" + _key(data, [sqls, WRITES]) + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for w, (src, _, _) in WRITES.items():
        con.execute(f"CREATE VIEW {w} AS {src}")
    rows = [[[_cell(c) for c in row] for row in con.execute(sql).fetchall()] for sql in sqls]
    with open(path, "w") as f:
        json.dump(rows, f)
    return rows


def _key(data, text):
    return hashlib.sha256(json.dumps([data, text]).encode()).hexdigest()[:24]


def _sql_inputs(seed, data, run_dir, cache_dir):
    statements = []
    for w, (src, fmt, cols) in WRITES.items():
        path = os.path.join(run_dir, "sinks", w)
        schema = f"({cols}) " if cols else ""
        header = " WITH HEADER ROW" if fmt == "csv" else ""
        ddl = f"CREATE EXTERNAL TABLE {w} {schema}STORED AS {fmt.upper()}{header} LOCATION '{path}'"
        statements.append({"name": f"write_{fmt}", "sql": src,
                           "write": {"path": path, "format": fmt, "ddl": ddl}})
    writes = list(range(len(statements)))
    # the literal sets are fixed; the seed picks which one each pass runs,
    # and in what order
    lits = random.Random(0)
    reads = {}
    sqls = []
    for name, gen in READS.items():
        reads[name] = []
        for v in range(VARIANTS):
            reads[name].append(len(statements) + len(sqls))
            sqls.append((f"{name}#{v}", gen(lits)))
    for (name, sql), rows in zip(sqls, _expected(data, [q for _, q in sqls], cache_dir)):
        statements.append({"name": name, "sql": sql, "expect": rows})
    names = sorted(reads)
    rng = random.Random(seed)

    def block(pick):
        p = writes + [pick(reads[n]) for n in names]
        rng.shuffle(p)
        return p

    # warm-up: every write (so the written tables exist), then WARMUP_BLOCKS
    # blocks more, each with its own literal set of every read template; then
    # passes of one write each and one read per template with a seeded
    # literal set (3 of 15 operations are writes)
    warmup = writes + [reads[n][0] for n in names]
    for v in range(1, WARMUP_BLOCKS + 1):
        warmup += block(lambda vs: vs[v])
    passes = [block(rng.choice) for _ in range(PASSES)]
    return {"tables": BASE_TABLES, "statements": statements, "warmup": warmup, "passes": passes}


# Untimed noop-sink passes after a batch workload's check pass. With one,
# the first timed passes ran 15-25% slower than the later ones and the
# median query times of runs with different seeds spread twice as far as
# with two. A third would steady them further but does not fit the time a
# run may take.
WARMUP_PASSES = 2


def make_inputs(name, seed, data, run_dir, cache_dir):
    """The workload part of the JVM spec, generated from `seed`."""
    if name == "sql_interactive":
        return _sql_inputs(seed, data, run_dir, cache_dir)
    rng = random.Random(seed)
    queries = list(WORKLOADS[name]["queries"])
    rng.shuffle(queries)
    passes = []
    for _ in range(WARMUP_PASSES + PASSES):
        p = list(queries)
        rng.shuffle(p)
        passes.append(p)
    return {"queries": queries, "warmup": sum(passes[:WARMUP_PASSES], []),
            "passes": passes[WARMUP_PASSES:], "check_dir": os.path.join(run_dir, "check")}


# ---------------------------------------------------------------- batch check

def _oracle_rules():
    """The repo's DuckDB comparison rules (tools/oracle_check.py)."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                    "tools"))
    import oracle_check
    return oracle_check


def _compare(got, exp, rules):
    got, exp = rules.norm(got), rules.norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        gi = pd.api.types.is_integer_dtype(got[c].dtype)
        ei = pd.api.types.is_integer_dtype(exp[c].dtype)
        gf = pd.api.types.is_float_dtype(got[c].dtype)
        ef = pd.api.types.is_float_dtype(exp[c].dtype)
        if gi != ei or gf != ef:
            return f"dtype {c}: {got[c].dtype} vs {exp[c].dtype}"
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not rules.cmp_cell(a, b):
                return f"col {c} row {i}: spark={a!r} oracle={b!r}"
    return None


def check_batch(data, check_dir, oracle_sql, queries, cache_dir, jvm_failures):
    """Compare each query's check-pass output with its DuckDB oracle. The
    oracle's result is cached per data set and SQL text. Returns failures;
    a query whose check pass already failed in the JVM is not counted again."""
    rules = _oracle_rules()
    failed = {f["name"] for f in jvm_failures if f["phase"] == "check"}
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    failures = []
    for q in queries:
        if q in failed:
            continue
        sql = oracle_sql.get(q)
        if sql is None:
            failures.append({"name": q, "phase": "check", "error": "no oracle SQL"})
            continue
        cached = os.path.join(cache_dir, f"{q}-{_key(data, sql)}.parquet")
        if os.path.exists(cached):
            exp = pd.read_parquet(cached)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            exp = con.sql(sql).df()
            exp.to_parquet(cached)
        try:
            got = pd.read_parquet(os.path.join(check_dir, q))
        except Exception as e:  # the query failed before writing its result
            failures.append({"name": q, "phase": "check", "error": f"no result: {e}"})
            continue
        err = _compare(got, exp, rules)
        if err:
            failures.append({"name": q, "phase": "check", "error": err})
    return failures
