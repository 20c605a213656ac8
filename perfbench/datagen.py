"""Seeded catalog tables for the batch workload, written with DuckDB.

The tables have the names, columns and types of the engine's test data
(region, nation, customer, supplier, part, orders, lineitem, events;
`events.ts` is a nanosecond timestamp). Values are pseudo-random
functions of (row number, column, seed), so the same seed and scale
give the same files. Oracle and engine read the same files, so the
comparison does not depend on the value distributions.
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def generate(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150000 * scale))
    n_supp = max(10, int(10000 * scale))
    n_part = max(10, int(200000 * scale))
    n_ord = max(10, int(1500000 * scale))
    n_ev = max(10, int(1000000 * scale))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # uniform in [0, 1) from (row, column salt, seed)
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) % 1000000) / 1000000.0")
    # amounts in quarter units are exact binary fractions, so sums are
    # exact whatever order either engine adds them in
    con.execute("CREATE MACRO money(x) AS floor(x * 4) / 4.0")

    def write(name, sql):
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    write("region", """
        SELECT r::INTEGER AS r_regionkey,
               ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1]
                 AS r_name
        FROM range(5) t(r)""")
    write("nation", """
        SELECT n::INTEGER AS n_nationkey, 'NATION_' || n AS n_name,
               (n % 5)::INTEGER AS n_regionkey
        FROM range(25) t(n)""")
    write("customer", f"""
        SELECT i::BIGINT AS c_custkey,
               'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
               floor(u(i, 1) * 25)::INTEGER AS c_nationkey,
               money(u(i, 2) * 10000 - 1000) AS c_acctbal,
               ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
                 [floor(u(i, 3) * 5)::INTEGER + 1] AS c_mktsegment
        FROM range({n_cust}) t(i)""")
    write("supplier", f"""
        SELECT i::BIGINT AS s_suppkey,
               'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
               floor(u(i, 4) * 25)::INTEGER AS s_nationkey,
               money(u(i, 5) * 10000 - 1000) AS s_acctbal
        FROM range({n_supp}) t(i)""")
    write("part", f"""
        SELECT i::BIGINT AS p_partkey,
               ['large','hot','blue','small','red','green'][floor(u(i, 6) * 6)::INTEGER + 1]
                 || ' ' ||
               ['ring','bolt','nut','screw','gear','pipe'][floor(u(i, 7) * 6)::INTEGER + 1]
                 AS p_name,
               'Brand#' || (floor(u(i, 8) * 25)::INTEGER + 1) AS p_brand,
               ['LARGE','ECONOMY','SMALL','MEDIUM','PROMO'][floor(u(i, 9) * 5)::INTEGER + 1]
                 AS p_type,
               (floor(u(i, 10) * 50)::INTEGER + 1) AS p_size,
               money(900 + (i % 1000) / 10.0) AS p_retailprice
        FROM range({n_part}) t(i)""")
    write("orders", f"""
        SELECT i::BIGINT AS o_orderkey,
               floor(u(i, 11) * {n_cust})::BIGINT AS o_custkey,
               ['O','F','P'][floor(u(i, 12) * 3)::INTEGER + 1] AS o_orderstatus,
               money(u(i, 13) * 400000 + 1000) AS o_totalprice,
               TIMESTAMP '1992-01-01' + INTERVAL (floor(u(i, 14) * 3650)::INTEGER) DAY
                 AS o_orderdate,
               ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
                 [floor(u(i, 15) * 5)::INTEGER + 1] AS o_orderpriority
        FROM range({n_ord}) t(i)""")
    write("lineitem", f"""
        SELECT o::BIGINT AS l_orderkey,
               floor(u(o * 4 + l, 16) * {n_part})::BIGINT AS l_partkey,
               floor(u(o * 4 + l, 17) * {n_supp})::BIGINT AS l_suppkey,
               (l + 1)::INTEGER AS l_linenumber,
               (floor(u(o * 4 + l, 18) * 50) + 1)::DOUBLE AS l_quantity,
               money(u(o * 4 + l, 19) * 100000 + 900) AS l_extendedprice,
               floor(u(o * 4 + l, 20) * 11) / 100.0 AS l_discount,
               floor(u(o * 4 + l, 21) * 9) / 100.0 AS l_tax,
               ['A','N','R'][floor(u(o * 4 + l, 22) * 3)::INTEGER + 1] AS l_returnflag,
               ['O','F'][floor(u(o * 4 + l, 23) * 2)::INTEGER + 1] AS l_linestatus,
               TIMESTAMP '1992-01-01' + INTERVAL (floor(u(o * 4 + l, 24) * 3650)::INTEGER) DAY
                 AS l_shipdate
        FROM range({n_ord}) a(o), range(4) b(l)""")
    write("events", f"""
        SELECT i::BIGINT AS event_id,
               CAST(TIMESTAMP '2024-01-01' + to_microseconds(
                 (i * 2592000000000 // {n_ev})::BIGINT
                 + floor(u(i, 25) * 1000000)::BIGINT) AS TIMESTAMP_NS) AS ts,
               floor(u(i, 26) * {max(1, n_cust // 10)})::BIGINT AS user_id,
               ['signup','click','error','view','purchase'][floor(u(i, 27) * 5)::INTEGER + 1]
                 AS event_type,
               money(u(i, 28) * 560) AS value,
               '{{"k": ' || floor(u(i, 29) * 100)::INTEGER || '}}' AS props
        FROM range({n_ev}) t(i)""")
    con.close()
