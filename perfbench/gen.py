"""Seeded input generator for the benchmark.

Writes the ten engine tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as parquet, with the
schemas, key integrity and value ranges of the engine's sf testdata:

- every l_orderkey joins an order, every o_custkey a customer, every
  l_partkey / l_suppkey a part / supplier, every nation a region;
- events span 30 days from 2024-01-01 with ascending event_id and ts;
- 5% of documents are another document's text plus the marker word
  "dup" (the planted near-duplicates the dedup queries find);
- embeddings are unit 64-d float vectors clustered around one centre
  per label.

Geo points are derived from keys inside the engine (Tables.withSyntheticPoint),
so the NYC bounding box holds for any seed.

Values come from DuckDB's hash of (row, column salt, seed), not from a
stateful RNG, so the same (seed, scale) gives bit-identical tables at any
thread count.  `scale` is the TPC-H-style scale factor: 0.1 gives the
committed sf0.1 shape (600k lineitem, 100k events, 5k documents).

Usage: python3 perfbench/gen.py <out_dir> <seed> <scale>
"""
import os
import sys

import duckdb

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def generate(out: str, seed: int, scale: float) -> None:
    os.makedirs(out, exist_ok=True)
    n_orders = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_events = int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    n_docs = int(50_000 * scale)
    n_vecs = int(20_000 * scale)

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # u(i, salt): uniform double in [0, 1) from the row index and a column salt.
    con.execute(f"""CREATE MACRO u(i, salt) AS
        (hash(i, salt, {int(seed)}) >> 11)::DOUBLE / 9007199254740992.0""")
    con.execute("CREATE MACRO pick(i, salt, xs) AS xs[1 + floor(u(i, salt) * len(xs))::INT]")
    con.execute("""CREATE MACRO gauss(i, salt) AS
        sqrt(-2 * ln(1 - u(i, salt || 'a'))) * cos(2 * pi() * u(i, salt || 'b'))""")

    def copy(name: str, sql: str) -> None:
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' "
                    "(FORMAT PARQUET, ROW_GROUP_SIZE 10000000)")

    copy("region", """
        SELECT i::INT AS r_regionkey,
               ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
        FROM range(5) t(i)""")
    copy("nation", """
        SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey
        FROM range(25) t(i)""")
    copy("customer", f"""
        SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
               floor(u(i, 'cn') * 25)::INT AS c_nationkey,
               round(-999.99 + u(i, 'cb') * 10999.98, 2) AS c_acctbal,
               pick(i, 'cs', ['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING',
                              'FURNITURE']) AS c_mktsegment
        FROM range({n_cust}) t(i)""")
    copy("supplier", f"""
        SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
               floor(u(i, 'sn') * 25)::INT AS s_nationkey,
               round(-999.99 + u(i, 'sb') * 10999.98, 2) AS s_acctbal
        FROM range({n_supp}) t(i)""")
    copy("part", f"""
        SELECT i AS p_partkey,
               pick(i, 'pa', ['blue', 'cold', 'hot', 'red', 'small', 'new', 'old', 'large'])
                 || ' ' || pick(i, 'pb', ['ring', 'plate', 'gear', 'rod', 'bolt', 'anvil',
                                          'widget']) AS p_name,
               'Brand#' || floor(u(i, 'pr') * 25)::INT AS p_brand,
               pick(i, 'pt', ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM',
                              'PROMO']) AS p_type,
               (1 + floor(u(i, 'ps') * 50))::INT AS p_size,
               round(900 + (i % 1000) / 10.0, 1)::DOUBLE AS p_retailprice
        FROM range({n_part}) t(i)""")
    con.execute(f"""CREATE TABLE orders AS
        SELECT i AS o_orderkey, floor(u(i, 'oc') * {n_cust})::BIGINT AS o_custkey,
               pick(i, 'os', ['F', 'O', 'P']) AS o_orderstatus,
               round(1000 + u(i, 'op') * 499000, 2) AS o_totalprice,
               (TIMESTAMP '1995-01-01' + to_days(floor(u(i, 'od') * 2404)::INT)) AS o_orderdate,
               pick(i, 'oy', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                              '5-LOW']) AS o_orderpriority,
               (1 + floor(u(i, 'on') * 7))::INT AS n_lines
        FROM range({n_orders}) t(i)""")
    copy("orders", "SELECT * EXCLUDE (n_lines) FROM orders ORDER BY o_orderkey")
    copy("lineitem", f"""
        SELECT o_orderkey AS l_orderkey,
               floor(u(k, 'lp') * {n_part})::BIGINT AS l_partkey,
               floor(u(k, 'ls') * {n_supp})::BIGINT AS l_suppkey,
               ln::INT AS l_linenumber,
               (1 + floor(u(k, 'lq') * 50))::DOUBLE AS l_quantity,
               round(900 + u(k, 'le') * 104100, 2) AS l_extendedprice,
               floor(u(k, 'ld') * 11) / 100.0 AS l_discount,
               floor(u(k, 'lt') * 9) / 100.0 AS l_tax,
               pick(k, 'lr', ['N', 'A', 'R']) AS l_returnflag,
               pick(k, 'll', ['O', 'F']) AS l_linestatus,
               TIMESTAMP '1995-01-02' + to_days(floor(u(k, 'lh') * 2498)::INT) AS l_shipdate
        FROM (SELECT o_orderkey, ln, o_orderkey * 8 + ln AS k
              FROM orders, range(1, 8) r(ln) WHERE ln <= n_lines)
        ORDER BY l_orderkey, l_linenumber""")
    span_us = 30 * 86400 * 1_000_000
    copy("events", f"""
        SELECT i AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(
                 (i * {span_us // n_events} + floor(u(i, 'et') * {span_us // n_events}))::BIGINT) AS ts,
               floor(u(i, 'eu') * {n_users})::BIGINT AS user_id,
               pick(i, 'ey', ['signup', 'click', 'error', 'view', 'purchase']) AS event_type,
               round(-50 * ln(1 - u(i, 'ev')), 2) AS value,
               '{{"k": ' || floor(u(i, 'ek') * 100)::INT || '}}' AS props
        FROM range({n_events}) t(i)""")
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    con.execute(f"""CREATE TABLE base AS
        SELECT i AS doc_id,
               array_to_string(list_transform(
                 generate_series(1, 10 + floor(u(i, 'dn') * 91)::BIGINT),
                 j -> pick(i * 128 + j, 'dw', {vocab})), ' ') AS text
        FROM range({n_docs}) t(i)""")
    copy("documents", f"""
        SELECT b.doc_id, d.text, pick(b.doc_id, 'dl', ['en', 'en', 'en', 'en', 'en', 'en',
               'en', 'en', 'de', 'de', 'de', 'es', 'es', 'es', 'fr', 'fr', 'fr', 'zh', 'zh',
               'zh']) AS lang,
               'src' || floor(u(b.doc_id, 'dr') * 20)::INT AS source,
               length(d.text)::BIGINT AS n_chars
        FROM base b JOIN (
          SELECT b.doc_id, CASE WHEN u(b.doc_id, 'dd') < 0.05
                 THEN o.text || ' dup' ELSE b.text END AS text
          FROM base b JOIN base o
            ON o.doc_id = floor(u(b.doc_id, 'do') * {n_docs})::BIGINT) d
          ON d.doc_id = b.doc_id
        ORDER BY b.doc_id""")
    copy("embeddings", f"""
        WITH raw AS (
          SELECT i AS vec_id, floor(u(i, 'vl') * 10)::INT AS label,
                 list_transform(range(64), j ->
                   gauss(label * 64 + j, 'vc') + 0.9 * gauss(i * 64 + j, 'vn')) AS v
          FROM range({n_vecs}) t(i))
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT[]
                 AS embedding,
               label
        FROM raw ORDER BY vec_id""")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
