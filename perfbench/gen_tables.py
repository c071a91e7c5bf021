"""Seeded generator of the ten fixture tables the query workloads read.

Same table names, column names, types and row counts as the engine's
fixture schema (TESTDATA.md); every value derives from DuckDB's `hash()`
of (row id, seed, column salt), so one seed always yields the same rows and
another seed yields different rows with the same distributions. Planted
duplicates come in fixed counts at seeded positions, so iterated queries do
the same amount of work under every seed. Each table is written as one
parquet file `<out>/<table>.parquet`.

Usage: python3 perfbench/gen_tables.py <sf> <seed> <out_dir>
"""
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "fast", "the", "row", "agg", "key", "query",
         "a", "scan", "batch", "join", "order", "sort", "filter", "hash",
         "group", "line", "part", "big", "slow", "customer"]


def _arr(words):
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


def table_sql(name: str, sf: float, seed: int) -> str:
    def h(*parts):
        # UBIGINT hash of the row key, the seed and a per-column salt.
        return "hash(" + ", ".join(list(parts) + [str(seed)]) + ")"

    def pick(words, key):
        return f"{_arr(words)}[(({key} % {len(words)}) + 1)::BIGINT]"

    n_cust = max(1, int(150000 * sf))
    n_supp = max(1, int(10000 * sf))
    n_part = max(1, int(200000 * sf))
    n_ord = max(1, int(1500000 * sf))
    n_ev = max(1, int(1000000 * sf))
    n_doc = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    if name == "region":
        return ("SELECT id::INTEGER AS r_regionkey, "
                f"{_arr(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}[id + 1] AS r_name "
                "FROM range(5) t(id)")
    if name == "nation":
        return ("SELECT id::INTEGER AS n_nationkey, 'NATION_' || id AS n_name, "
                "(id % 5)::INTEGER AS n_regionkey FROM range(25) t(id)")
    if name == "customer":
        return ("SELECT id AS c_custkey, printf('Customer#%09d', id) AS c_name, "
                f"({h('id', '1')} % 25)::INTEGER AS c_nationkey, "
                f"({h('id', '2')} % 900000)::DOUBLE / 100.0 AS c_acctbal, "
                f"{pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], h('id', '3'))} AS c_mktsegment "
                f"FROM range({n_cust}) t(id)")
    if name == "supplier":
        return ("SELECT id AS s_suppkey, printf('Supplier#%09d', id) AS s_name, "
                f"({h('id', '4')} % 25)::INTEGER AS s_nationkey, "
                f"({h('id', '5')} % 900000)::DOUBLE / 100.0 AS s_acctbal "
                f"FROM range({n_supp}) t(id)")
    if name == "part":
        adj = ["cold", "small", "large", "dark", "quick", "soft", "plain", "spare"]
        noun = ["widget", "bolt", "gear", "spring", "panel", "lens", "frame", "wheel"]
        return ("SELECT id AS p_partkey, "
                f"{pick(adj, h('id', '6'))} || ' ' || {pick(noun, h('id', '7'))} AS p_name, "
                f"'Brand#' || (({h('id', '8')} % 25) + 1) AS p_brand, "
                f"{pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], h('id', '9'))} AS p_type, "
                f"(({h('id', '10')} % 50) + 1)::INTEGER AS p_size, "
                "900.0 + (id % 1000)::DOUBLE / 10.0 AS p_retailprice "
                f"FROM range({n_part}) t(id)")
    if name == "orders":
        return ("SELECT id AS o_orderkey, "
                f"({h('id', '11')} % {n_cust})::BIGINT AS o_custkey, "
                f"{pick(['F', 'O', 'P'], h('id', '12'))} AS o_orderstatus, "
                f"1000.0 + ({h('id', '13')} % 44900000)::DOUBLE / 100.0 AS o_totalprice, "
                f"(DATE '1995-01-01' + (({h('id', '14')} % 2400)::INTEGER))::TIMESTAMP AS o_orderdate, "
                f"{pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], h('id', '15'))} AS o_orderpriority "
                f"FROM range({n_ord}) t(id)")
    if name == "lineitem":
        k = "o.id, ln.l"
        return ("SELECT o.id AS l_orderkey, "
                f"({h(k, '17')} % {n_part})::BIGINT AS l_partkey, "
                f"({h(k, '18')} % {n_supp})::BIGINT AS l_suppkey, "
                "ln.l::INTEGER AS l_linenumber, "
                f"(({h(k, '19')} % 50) + 1)::DOUBLE AS l_quantity, "
                f"900.0 + ({h(k, '20')} % 9400000)::DOUBLE / 100.0 AS l_extendedprice, "
                f"({h(k, '21')} % 11)::DOUBLE / 100.0 AS l_discount, "
                f"({h(k, '22')} % 9)::DOUBLE / 100.0 AS l_tax, "
                f"{pick(['A', 'N', 'R'], h(k, '23'))} AS l_returnflag, "
                f"{pick(['F', 'O'], h(k, '24'))} AS l_linestatus, "
                f"(DATE '1995-01-01' + (({h('o.id', '14')} % 2400)::INTEGER) "
                f"+ ((({h(k, '25')} % 120) + 1)::INTEGER))::TIMESTAMP AS l_shipdate "
                f"FROM range({n_ord}) o(id), "
                f"LATERAL (SELECT unnest(range(1, (({h('o.id', '16')} % 7) + 2)::BIGINT)) AS l) ln")
    if name == "events":
        n_users = max(1, n_ev // 66)
        return ("SELECT id AS event_id, "
                "make_timestamp(1704067200000000::BIGINT "
                f"+ ({h('id', '26')} % {30 * 86400})::BIGINT * 1000000 "
                f"+ ({h('id', '27')} % 1000000)::BIGINT) AS ts, "
                f"({h('id', '28')} % {n_users})::BIGINT AS user_id, "
                f"{pick(['click', 'error', 'purchase', 'signup', 'view'], h('id', '29'))} AS event_type, "
                f"({h('id', '30')} % 20000)::DOUBLE / 100.0 AS value, "
                f"'{{\"k\": ' || ({h('id', '31')} % 100) || '}}' AS props "
                f"FROM range({n_ev}) t(id)")
    if name == "documents":
        # Exactly 1 in 50 documents is an exact duplicate of its (even)
        # predecessor, at a seeded residue: the duplicate graph the dedup and
        # graph queries iterate over has the same size under every seed.
        r = 2 * (seed % 25) + 1
        return ("WITH b AS (SELECT id, CASE WHEN "
                f"id % 50 = {r} THEN id - 1 ELSE id END AS s "
                f"FROM range({n_doc}) t(id)), "
                "x AS (SELECT id, s, array_to_string(list_transform("
                f"range(0::BIGINT, (({h('s', '33')} % 76) + 10)::BIGINT), "
                f"i -> {pick(VOCAB, h('s', 'i', '34'))}), ' ') AS text FROM b) "
                "SELECT id AS doc_id, text, "
                f"{pick(['en', 'en', 'en', 'en', 'de', 'es', 'fr', 'zh', 'en', 'es'], h('id', '35'))} AS lang, "
                f"'src' || ({h('id', '36')} % 20) AS source, "
                "length(text)::BIGINT AS n_chars FROM x ORDER BY id")
    if name == "embeddings":
        # Exactly 1 in 32 vectors copies its source (the preceding multiple
        # of 4) plus small noise (cosine ~0.96), at a seeded residue.
        r = 1 + seed % 3
        return ("WITH b AS (SELECT id, "
                f"(id % 32 = {r}) AS nr, "
                f"CASE WHEN id % 32 = {r} THEN id - id % 4 ELSE id END AS s "
                f"FROM range({n_emb}) t(id)) "
                "SELECT id AS vec_id, list_transform(range(0::BIGINT, 64::BIGINT), j -> "
                f"(((({h('s', 'j', '37')} % 1000)::INTEGER - 500)::FLOAT / 1350.0::FLOAT) "
                f"+ CASE WHEN nr THEN ((({h('id', 'j', '42')} % 200)::INTEGER - 100)::FLOAT / 1000.0::FLOAT) "
                "ELSE 0.0::FLOAT END)::FLOAT) AS embedding, "
                f"({h('id', '38')} % 10)::INTEGER AS label FROM b ORDER BY id")
    raise ValueError(f"unknown table {name}")


def generate(sf: float, seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({table_sql(t, sf, seed)}) TO '{path}' (FORMAT PARQUET)")
    con.close()


if __name__ == "__main__":
    generate(float(sys.argv[1]), int(sys.argv[2]), sys.argv[3])
