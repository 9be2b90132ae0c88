"""Seeded generator of the benchmark's input tables.

Writes the ten parquet tables the repo's entry functions read (the
TPC-H-like star schema plus events, documents and embeddings), with the
same column names, types and value domains as the repo's fixtures. Every
value is a DuckDB hash of (row, column, seed), so one seed always gives
the same tables and another seed gives different values of the same size.

    python3 perfbench/gen_tables.py OUT_DIR SEED SCALE
"""
import sys

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
WORDS = ("batch part spark line column order small sort fast value scan a hash slow "
         "group agg filter query big key window row table stream merge data the "
         "vector join customer").split()


def generate(out_dir, seed, scale):
    rows = {
        "customer": int(150000 * scale), "supplier": int(10000 * scale),
        "part": int(200000 * scale), "orders": int(1500000 * scale),
        "lineitem": int(6000000 * scale), "events": int(1000000 * scale),
        "documents": int(50000 * scale), "embeddings": max(500, int(20000 * scale)),
    }
    users = max(1, int(15000 * scale))
    con = duckdb.connect()
    con.execute("SET threads TO 1")

    def h(col, *keys):
        return f"(hash(i, {', '.join(keys) + ', ' if keys else ''}{seed}, '{col}') >> 1)::BIGINT"

    def pick(col, values):
        arr = "[" + ",".join(f"'{v}'" for v in values) + "]"
        return f"{arr}[1 + {h(col)} % {len(values)}]"

    def money(col, lo, span):
        return f"round({lo} + ({h(col)} % {span * 100}) / 100.0, 2)"

    def write(name, select, source=None):
        source = source or f"range({rows[name]}) t(i)"
        con.execute(f"COPY (SELECT {select} FROM {source}) "
                    f"TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")

    con.execute(f"COPY (SELECT range::INTEGER AS r_regionkey, "
                f"['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][range + 1] AS r_name "
                f"FROM range(5)) TO '{out_dir}/region.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT range::INTEGER AS n_nationkey, 'NATION_' || range AS n_name, "
                f"(range % 5)::INTEGER AS n_regionkey FROM range(25)) "
                f"TO '{out_dir}/nation.parquet' (FORMAT PARQUET)")
    write("customer", f"""i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        ({h('c_nation')} % 25)::INTEGER AS c_nationkey, {money('c_acct', 0, 10000)} AS c_acctbal,
        {pick('seg', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment""")
    write("supplier", f"""i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        ({h('s_nation')} % 25)::INTEGER AS s_nationkey, {money('s_acct', 0, 10000)} AS s_acctbal""")
    write("part", f"""i::BIGINT AS p_partkey,
        {pick('adj', ['small', 'large', 'red', 'blue', 'hot', 'old'])} || ' ' ||
        {pick('noun', ['ring', 'bolt', 'widget', 'gear', 'gizmo'])} AS p_name,
        'Brand#' || (1 + {h('brand')} % 25) AS p_brand,
        {pick('type', ['SMALL', 'MEDIUM', 'LARGE', 'ECONOMY', 'STANDARD', 'PROMO'])} AS p_type,
        (1 + {h('size')} % 50)::INTEGER AS p_size, round(900 + (i % 2000) / 10.0, 2) AS p_retailprice""")
    write("orders", f"""i::BIGINT AS o_orderkey, ({h('cust')} % {rows['customer']})::BIGINT AS o_custkey,
        {pick('status', ['O', 'F', 'P'])} AS o_orderstatus, {money('price', 1000, 499000)} AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(({h('date')} % 2404)::INTEGER) AS o_orderdate,
        {pick('prio', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority""")
    write("lineitem", f"""({h('order')} % {rows['orders']})::BIGINT AS l_orderkey,
        ({h('part')} % {rows['part']})::BIGINT AS l_partkey,
        ({h('supp')} % {rows['supplier']})::BIGINT AS l_suppkey,
        (1 + {h('line')} % 7)::INTEGER AS l_linenumber,
        (1 + {h('qty')} % 50)::DOUBLE AS l_quantity, {money('ext', 900, 100000)} AS l_extendedprice,
        ({h('disc')} % 11) / 100.0 AS l_discount, ({h('tax')} % 9) / 100.0 AS l_tax,
        {pick('flag', ['A', 'N', 'R'])} AS l_returnflag, {pick('lstatus', ['O', 'F'])} AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(({h('ship')} % 2498)::INTEGER) AS l_shipdate""")
    write("events", f"""i::BIGINT AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(({h('ts')} % 2592000000000)::BIGINT) AS ts,
        ({h('user')} % {users})::BIGINT AS user_id,
        {pick('etype', ['click', 'view', 'purchase', 'signup', 'error'])} AS event_type,
        round(({h('value')} % 56022) / 100.0, 2) AS value,
        '{{"k": ' || ({h('props')} % 100) || '}}' AS props""")
    words = "[" + ",".join(f"'{w}'" for w in WORDS) + "]"
    write("documents", f"""i::BIGINT AS doc_id, text,
        {pick('lang', ['en', 'en', 'en', 'es', 'zh', 'de', 'fr'])} AS lang,
        'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars""",
          f"""(SELECT i, array_to_string(list_transform(range(10 + {h('len')} % 90),
              k -> {words}[1 + {h('word', 'k')} % {len(WORDS)}]), ' ') AS text
              FROM range({rows['documents']}) t(i))""")
    write("embeddings", f"""i::BIGINT AS vec_id,
        list_transform(range(64), k -> (({h('emb', 'k')} % 20001)::DOUBLE - 10000) / 50000)::FLOAT[]
          AS embedding,
        ({h('label')} % 10)::INTEGER AS label""")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
