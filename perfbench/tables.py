"""Seeded generator of the query corpus: a TPC-H-like star schema plus
`events`, `documents` and `embeddings`, one parquet file per table, in the
shapes `graft.Tables` loads. Row counts scale with `sf` (lineitem is about
6M * sf rows); documents and embeddings are fixed at 500 rows.

Usage: python3 perfbench/tables.py <out_dir> <seed> <sf>
"""
import sys

import duckdb

WORDS = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
         "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
         "data", "column", "join", "small", "big", "customer", "query", "stream",
         "group", "filter", "vector"]


def generate(out: str, seed: int, sf: float) -> None:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"

    # h(k, ...) is a seeded 64-bit hash; u(k, ...) a uniform draw in [0, 1)
    con.execute(f"CREATE MACRO h(a, b) AS (hash(a, b, {seed}) >> 1)::BIGINT")
    con.execute("CREATE MACRO u(a, b) AS (h(a, b) % 1000000) / 1000000.0")
    tables = {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            (h(i, 'cn') % 25)::INTEGER AS c_nationkey,
            round(-999.99 + u(i, 'cb') * 10998.98, 2)::DOUBLE AS c_acctbal,
            ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][1 + h(i, 'cm') % 5] AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            (h(i, 'sn') % 25)::INTEGER AS s_nationkey,
            round(u(i, 'sb') * 10000, 2)::DOUBLE AS s_acctbal FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
            ['small', 'red', 'blue', 'green', 'large', 'steel'][1 + h(i, 'pa') % 6] || ' ' ||
            ['ring', 'widget', 'bolt', 'gear', 'valve', 'pipe'][1 + h(i, 'pb') % 6] AS p_name,
            'Brand#' || (1 + h(i, 'pr') % 25) AS p_brand,
            ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'][1 + h(i, 'pt') % 6] AS p_type,
            (1 + h(i, 'ps') % 50)::INTEGER AS p_size,
            round(900 + (i % 1000) * 0.1, 2)::DOUBLE AS p_retailprice FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey, (h(i, 'oc') % {n_cust})::BIGINT AS o_custkey,
            ['F', 'O', 'P'][1 + h(i, 'os') % 3] AS o_orderstatus,
            round(1000 + u(i, 'op') * 499000, 2)::DOUBLE AS o_totalprice,
            (TIMESTAMP '1995-01-01' + to_days((h(i, 'od') % 2400)::INTEGER)) AS o_orderdate,
            ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][1 + h(i, 'oq') % 5]
              AS o_orderpriority FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT o.i::BIGINT AS l_orderkey, (h(k, 'lp') % {n_part})::BIGINT AS l_partkey,
            (h(k, 'ls') % {n_supp})::BIGINT AS l_suppkey, n::INTEGER AS l_linenumber,
            (1 + h(k, 'lq') % 50)::DOUBLE AS l_quantity,
            round(900 + u(k, 'le') * 104000, 2)::DOUBLE AS l_extendedprice,
            ((h(k, 'ld') % 11) / 100.0)::DOUBLE AS l_discount,
            ((h(k, 'lt') % 9) / 100.0)::DOUBLE AS l_tax,
            ['A', 'N', 'R'][1 + h(k, 'lr') % 3] AS l_returnflag,
            ['F', 'O'][1 + h(k, 'lx') % 2] AS l_linestatus,
            (TIMESTAMP '1995-01-01' + to_days((h(o.i, 'od') % 2400 + h(k, 'lh') % 121)::INTEGER))
              AS l_shipdate
            FROM range({n_ord}) o(i), range(1, 8) l(n),
                 LATERAL (SELECT o.i * 8 + n AS k) kk
            WHERE n <= 1 + h(o.i, 'nl') % 7""",
        "events": f"""SELECT i::BIGINT AS event_id,
            (TIMESTAMP '2024-01-01' + to_microseconds(
               (i * (2592000000000 // {n_evt}) + h(i, 'et') % (2592000000000 // {n_evt}))::BIGINT)) AS ts,
            (h(i, 'eu') % {n_users})::BIGINT AS user_id,
            ['click', 'error', 'purchase', 'signup', 'view'][1 + h(i, 'ey') % 5] AS event_type,
            round(0.01 + u(i, 'ev') * u(i, 'ew') * 490, 2)::DOUBLE AS value,
            '{{"k": ' || (h(i, 'ek') % 100) || '}}' AS props FROM range({n_evt}) t(i)""",
        # every seventh document repeats an earlier one with its tail cut,
        # so the dedup queries find near-duplicates
        "documents": f"""WITH base AS (
              SELECT i, array_to_string(list_transform(range(25 + h(i, 'dn') % 60),
                       k -> {words}[1 + h(i * 1000 + k, 'dw') % {len(WORDS)}]), ' ') AS body
              FROM range(500) t(i))
            SELECT b.i::BIGINT AS doc_id,
              CASE WHEN b.i % 7 = 6 THEN left(p.body, greatest(40, length(p.body) - 12)) ELSE b.body END
                AS text,
              ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'][1 + h(b.i, 'dl') % 7] AS lang,
              'src' || (b.i % 20) AS source
            FROM base b JOIN base p ON p.i = b.i - 3 + (CASE WHEN b.i < 3 THEN 3 ELSE 0 END)""",
        "embeddings": f"""SELECT i::BIGINT AS vec_id,
            list_transform(range(64), d -> ((u(h(i, 'lab') % 10 * 64 + d, 'ctr') - 0.5) * 0.4
              + (u(i * 64 + d, 'noi') - 0.5) * 0.1)::FLOAT) AS embedding,
            (h(i, 'lab') % 10)::INTEGER AS label FROM range(500) t(i)""",
    }
    for name, sql in tables.items():
        if name == "documents":
            sql = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({sql}) ORDER BY doc_id"
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
