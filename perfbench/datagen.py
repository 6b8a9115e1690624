"""Seeded benchmark inputs and their expected results, built with DuckDB.

``write_inputs(seed, root)`` writes two parquet input directories with the
schemas of the engine's fixture tables (see FIXTURES.md §A):

- ``v1/``: the ten TPC-H-ish tables at roughly scale factor 0.01.
- ``v2/``: a seeded mutation of ``v1`` for the lifecycle resync. About 10%
  of supplier/customer/orders rows are dropped, 10% of the survivors get
  new property values and 5% new rows are added. Every other table is a
  copy of ``v1``.

Every value is a hash of (seed, row key, column salt), so one seed always
gives the same files, whatever DuckDB's thread count. The engine only ever
sees the parquet files; the expected results (``workloads.py``) are derived
from the same files by DuckDB alone.
"""

from __future__ import annotations

import os
import shutil

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# Tables the lifecycle sync reads (cartography_spark.plans.graph_fixture).
SYNC_TABLES = ("region", "nation", "supplier", "customer", "orders")
MUTATED = {"supplier": "s_suppkey", "customer": "c_custkey", "orders": "o_orderkey"}

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_LINEITEM, N_EVENTS, N_DOCS, N_VECS, DIM = 60000, 10000, 500, 500, 64

WORDS = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter dup key agg scan slow table part a merge window order "
    "column join vector"
).split()


def _pick(options, u: str) -> str:
    """SQL picking one of ``options`` by the uniform expression ``u``."""
    arr = "[" + ", ".join(f"'{o}'" for o in options) + "]"
    return f"{arr}[1 + CAST(floor({u} * {len(options)}) AS INTEGER)]"


def _connect(seed: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # u(k, salt) in [0, 1): a pure function of (seed, key, salt)
    con.sql(f"CREATE MACRO u(k, salt) AS (hash(k, salt, {int(seed)}) % 1000003) / 1000003.0")
    return con


def _base_sql() -> dict[str, str]:
    mkt = _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], "u(i, 'seg')")
    return {
        "region": """
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST(floor(u(i, 'nat') * 25) AS INTEGER) AS c_nationkey,
                   round(u(i, 'bal') * 10999.99 - 999.99, 2) AS c_acctbal,
                   {mkt} AS c_mktsegment
            FROM range({N_CUSTOMER}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                   CAST(floor(u(i, 'snat') * 25) AS INTEGER) AS s_nationkey,
                   round(u(i, 'sbal') * 10999.99 - 999.99, 2) AS s_acctbal
            FROM range({N_SUPPLIER}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {_pick(['blue', 'old', 'small', 'new', 'hot', 'large', 'cold', 'red'], "u(i, 'adj')")}
                   || ' ' ||
                   {_pick(['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'anvil', 'rod'], "u(i, 'noun')")}
                   AS p_name,
                   'Brand#' || CAST(1 + floor(u(i, 'brand') * 25) AS INTEGER) AS p_brand,
                   {_pick(['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'], "u(i, 'type')")}
                   AS p_type,
                   CAST(1 + floor(u(i, 'size') * 50) AS INTEGER) AS p_size,
                   CAST(round(900 + (i % 1000) * 0.1, 1) AS DOUBLE) AS p_retailprice
            FROM range({N_PART}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   CAST(floor(u(i, 'cust') * {N_CUSTOMER}) AS BIGINT) AS o_custkey,
                   {_pick(['F', 'O', 'P'], "u(i, 'ost')")} AS o_orderstatus,
                   round(1000 + u(i, 'tot') * 499000, 2) AS o_totalprice,
                   CAST(TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 'od') * 2404) AS INTEGER))
                        AS TIMESTAMP_MS) AS o_orderdate,
                   {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], "u(i, 'pri')")}
                   AS o_orderpriority
            FROM range({N_ORDERS}) t(i)""",
        "lineitem": f"""
            SELECT CAST(floor(u(i, 'lok') * {N_ORDERS}) AS BIGINT) AS l_orderkey,
                   CAST(floor(u(i, 'lpk') * {N_PART}) AS BIGINT) AS l_partkey,
                   CAST(floor(u(i, 'lsk') * {N_SUPPLIER}) AS BIGINT) AS l_suppkey,
                   CAST(1 + floor(u(i, 'lln') * 7) AS INTEGER) AS l_linenumber,
                   CAST(1 + floor(u(i, 'qty') * 50) AS DOUBLE) AS l_quantity,
                   round(900 + u(i, 'ext') * 104100, 2) AS l_extendedprice,
                   round(floor(u(i, 'disc') * 11) / 100, 2) AS l_discount,
                   round(floor(u(i, 'tax') * 9) / 100, 2) AS l_tax,
                   {_pick(['A', 'N', 'R'], "u(i, 'rf')")} AS l_returnflag,
                   {_pick(['O', 'F'], "u(i, 'ls')")} AS l_linestatus,
                   CAST(TIMESTAMP '1995-01-02' + to_days(CAST(floor(u(i, 'sd') * 2498) AS INTEGER))
                        AS TIMESTAMP_MS) AS l_shipdate
            FROM range({N_LINEITEM}) t(i)""",
        "events": f"""
            SELECT i AS event_id,
                   CAST(TIMESTAMP '2024-01-01' + to_microseconds(
                        CAST(i * 259200000 + floor(u(i, 'jit') * 259000000) AS BIGINT))
                        AS TIMESTAMP) AS ts,
                   CAST(floor(u(i, 'usr') * 150) AS BIGINT) AS user_id,
                   {_pick(['click', 'signup', 'error', 'view', 'purchase'], "u(i, 'evt')")} AS event_type,
                   round(0.01 + u(i, 'val') * 490, 2) AS value,
                   '{{"k": ' || CAST(floor(u(i, 'pk') * 100) AS INTEGER) || '}}' AS props
            FROM range({N_EVENTS}) t(i)""",
        "documents": f"""
            WITH w AS (
              SELECT d, string_agg(
                       {_pick(WORDS, "u(d * 1000 + j, 'word')")}, ' ' ORDER BY j) AS text
              FROM range({N_DOCS}) a(d), range(100) b(j)
              WHERE j < 10 + floor(u(d, 'len') * 90)
              GROUP BY d
            )
            SELECT d AS doc_id, text,
                   {_pick(['en', 'en', 'en', 'zh', 'de', 'fr', 'es'], "u(d, 'lang')")} AS lang,
                   'src' || (d % 20) AS source, CAST(length(text) AS BIGINT) AS n_chars
            FROM w ORDER BY d""",
        # label centers plus Gaussian noise (Box-Muller over two hash uniforms)
        "embeddings": f"""
            WITH c AS (
              SELECT v, CAST(floor(u(v, 'lbl') * 10) AS INTEGER) AS label FROM range({N_VECS}) a(v)
            )
            SELECT v AS vec_id,
                   list_transform(range({DIM}), k -> CAST(
                     0.12 * sqrt(-2 * ln(1 - u(label * 1000 + k, 'cu1')))
                          * cos(2 * pi() * u(label * 1000 + k, 'cu2'))
                     + 0.06 * sqrt(-2 * ln(1 - u(v * 1000 + k, 'nu1')))
                          * cos(2 * pi() * u(v * 1000 + k, 'nu2')) AS FLOAT)) AS embedding,
                   label
            FROM c ORDER BY v""",
    }


def _mutation_sql() -> dict[str, str]:
    """v2 rows of the mutated tables, over views ``v1_<table>``."""
    seg = _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], "u(c_custkey, 'seg2')")
    return {
        "supplier": f"""
            SELECT s_suppkey, s_name, s_nationkey,
                   CASE WHEN u(s_suppkey, 'chg') < 0.1
                        THEN round(u(s_suppkey, 'sbal2') * 10999.99 - 999.99, 2)
                        ELSE s_acctbal END AS s_acctbal
            FROM v1_supplier WHERE u(s_suppkey, 'drop') >= 0.1
            UNION ALL
            SELECT i, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0'),
                   CAST(floor(u(i, 'snat') * 25) AS INTEGER), round(u(i, 'sbal') * 10999.99 - 999.99, 2)
            FROM range({N_SUPPLIER}, {N_SUPPLIER + N_SUPPLIER // 20}) t(i)""",
        "customer": f"""
            SELECT c_custkey, c_name, c_nationkey,
                   CASE WHEN u(c_custkey, 'chg') < 0.1
                        THEN round(u(c_custkey, 'bal2') * 10999.99 - 999.99, 2)
                        ELSE c_acctbal END AS c_acctbal,
                   CASE WHEN u(c_custkey, 'chg') < 0.1 THEN {seg} ELSE c_mktsegment END AS c_mktsegment
            FROM v1_customer WHERE u(c_custkey, 'drop') >= 0.1
            UNION ALL
            SELECT i, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0'),
                   CAST(floor(u(i, 'nat') * 25) AS INTEGER), round(u(i, 'bal') * 10999.99 - 999.99, 2),
                   {_pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], "u(i, 'seg')")}
            FROM range({N_CUSTOMER}, {N_CUSTOMER + N_CUSTOMER // 20}) t(i)""",
        "orders": f"""
            SELECT o_orderkey, o_custkey,
                   CASE WHEN u(o_orderkey, 'chg') < 0.1
                        THEN {_pick(['F', 'O', 'P'], "u(o_orderkey, 'ost2')")}
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN u(o_orderkey, 'chg') < 0.1
                        THEN round(1000 + u(o_orderkey, 'tot2') * 499000, 2)
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM v1_orders WHERE u(o_orderkey, 'drop') >= 0.1
            UNION ALL
            SELECT i, CAST(floor(u(i, 'cust2') * {N_CUSTOMER + N_CUSTOMER // 20}) AS BIGINT),
                   {_pick(['F', 'O', 'P'], "u(i, 'ost')")}, round(1000 + u(i, 'tot') * 499000, 2),
                   CAST(TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 'od') * 2404) AS INTEGER))
                        AS TIMESTAMP_MS),
                   {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], "u(i, 'pri')")}
            FROM range({N_ORDERS}, {N_ORDERS + N_ORDERS // 20}) t(i)""",
    }


def write_inputs(seed: int, root: str) -> tuple[str, str]:
    """Write ``root/v1`` and ``root/v2``; return both directory paths."""
    v1, v2 = os.path.join(root, "v1"), os.path.join(root, "v2")
    os.makedirs(v1)
    os.makedirs(v2)
    con = _connect(seed)
    try:
        for name, sql in _base_sql().items():
            con.sql(f"COPY ({sql}) TO '{v1}/{name}.parquet' (FORMAT parquet)")
            con.sql(f"CREATE VIEW v1_{name} AS SELECT * FROM '{v1}/{name}.parquet'")
        mutations = _mutation_sql()
        for name in TABLES:
            if name in mutations:
                key = MUTATED[name]
                con.sql(f"COPY ({mutations[name]} ORDER BY {key}) TO '{v2}/{name}.parquet' (FORMAT parquet)")
            else:
                shutil.copyfile(f"{v1}/{name}.parquet", f"{v2}/{name}.parquet")
    finally:
        con.close()
    return v1, v2


def input_stats(sf_dir: str, tables=SYNC_TABLES) -> tuple[int, int]:
    """(rows, bytes) of the given input tables."""
    rows = sum(
        duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/{t}.parquet'").fetchone()[0] for t in tables
    )
    size = sum(os.path.getsize(f"{sf_dir}/{t}.parquet") for t in tables)
    return rows, size


def views(con: duckdb.DuckDBPyConnection, sf_dir: str, prefix: str = "") -> None:
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {prefix}{t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
