"""Seeded input generator for the benchmark (DuckDB, parquet out).

The base tables follow the schema and value domains of the engine's
synthetic TPC-H-style test data (star schema, an ``events`` stream and
a ``documents`` corpus). They come from a fixed base seed, so every run
of a workload sees the same base rows, and the run seed drives what a
workload varies:

- Every table is written in a seeded row order.
- With ``copies > 1``, ``customer supplier part orders lineitem`` are
  copied ``copies`` times. Copy ``c`` offsets every key by ``c`` times
  the table's row count and rotates the foreign keys it draws by a
  seeded amount, so every foreign key resolves inside its own copy and
  the dimension tables grow with the fact tables. ``region``, ``nation``
  and ``events`` stay as they are.
- With ``copies > 1``, ``documents`` is copied too. Copy 0 is the base;
  in copies 1.. a seeded ``DUP_SHARE`` of the docs repeats its base text
  verbatim and the rest are seeded word-order permutations, so language,
  length and word mix stay those of the base.

Nothing here touches Spark: the program only ever sees the files.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import duckdb

BASE_SEED = 42
DUP_SHARE = 0.10
# Rows per table at scale 1.0 (the TPC-H row ratios of the test data).
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")
STAR = ("customer", "supplier", "part", "orders", "lineitem")
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _u(tag: int, *cols: str) -> str:
    """SQL for a uniform double in [0, 1) hashed from the base seed."""
    return f"(hash({BASE_SEED}, {tag}, {', '.join(cols)}) % 1000000007) / 1000000007.0"


def _pick(values: list[str], tag: int, col: str) -> str:
    lit = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{lit}[1 + CAST(floor({_u(tag, col)} * {len(values)}) AS INT)]"


def _n(table: str, scale: float) -> int:
    return max(1, round(ROWS[table] * scale))


def _base_sql(n: dict[str, int]) -> dict[str, str]:
    colors = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    words = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    return {
        "region": "SELECT CAST(i AS INT) AS r_regionkey, "
                  "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INT) AS n_nationkey, 'NATION_' || i AS n_name, "
                  "CAST(i % 5 AS INT) AS n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(floor({_u(1, 'i')} * 25) AS INT) AS c_nationkey,
            round(-999.99 + {_u(2, 'i')} * 10999.98, 2) AS c_acctbal,
            {_pick(['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING', 'FURNITURE'], 3, 'i')} AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST(floor({_u(4, 'i')} * 25) AS INT) AS s_nationkey,
            round(-999.99 + {_u(5, 'i')} * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {_pick(colors, 6, 'i')} || ' ' || {_pick(nouns, 7, 'i')} AS p_name,
            'Brand#' || CAST(1 + floor({_u(8, 'i')} * 25) AS INT) AS p_brand,
            {_pick(['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'], 9, 'i')} AS p_type,
            CAST(1 + floor({_u(10, 'i')} * 50) AS INT) AS p_size,
            round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
            CAST(floor({_u(11, 'i')} * {n['customer']}) AS BIGINT) AS o_custkey,
            {_pick(['O', 'P', 'F'], 12, 'i')} AS o_orderstatus,
            round(1000 + {_u(13, 'i')} * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(floor({_u(14, 'i')} * 2404) AS INT)) AS o_orderdate,
            {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 15, 'i')} AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT
            CAST(floor({_u(16, 'i')} * {n['orders']}) AS BIGINT) AS l_orderkey,
            CAST(floor({_u(17, 'i')} * {n['part']}) AS BIGINT) AS l_partkey,
            CAST(floor({_u(18, 'i')} * {n['supplier']}) AS BIGINT) AS l_suppkey,
            CAST(1 + i % 7 AS INT) AS l_linenumber,
            CAST(1 + floor({_u(19, 'i')} * 50) AS DOUBLE) AS l_quantity,
            round(900 + {_u(20, 'i')} * 104100, 2) AS l_extendedprice,
            floor({_u(21, 'i')} * 11) / 100.0 AS l_discount,
            floor({_u(22, 'i')} * 9) / 100.0 AS l_tax,
            {_pick(['R', 'N', 'A'], 23, 'i')} AS l_returnflag,
            {_pick(['O', 'F'], 24, 'i')} AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(floor({_u(25, 'i')} * 2498) AS INT)) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT row_number() OVER (ORDER BY ts, k) - 1 AS event_id, ts, user_id,
            event_type, value, props FROM (
              SELECT i AS k,
                TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor({_u(26, 'i')} * 2592000000000) AS BIGINT)) AS ts,
                CAST(floor({_u(27, 'i')} * {max(1, n['customer'] // 10)}) AS BIGINT) AS user_id,
                {_pick(['signup', 'click', 'error', 'view', 'purchase'], 28, 'i')} AS event_type,
                round(-50 * ln(1 - {_u(29, 'i')}), 2) AS value,
                '{{"k": ' || CAST(floor({_u(30, 'i')} * 100) AS INT) || '}}' AS props
              FROM range({n['events']}) t(i))""",
        "documents": f"""SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars FROM (
              SELECT i AS doc_id,
                array_to_string(list_transform(
                  range(CAST(10 + floor({_u(31, 'i')} * 91) AS BIGINT)),
                  w -> {words}[1 + CAST(floor({_u(32, 'i', 'w')} * {len(VOCAB)}) AS INT)]), ' ') AS text,
                CASE WHEN {_u(33, 'i')} < 0.41 THEN 'en'
                     ELSE ['zh', 'de', 'fr', 'es'][1 + CAST(floor({_u(34, 'i')} * 4) AS INT)] END AS lang,
                'src' || (i % 20) AS source
              FROM range({n['documents']}) t(i))""",
    }


def _rot(seed: int, table: str, n: int) -> str:
    """Per-copy seeded key rotation; copy 0 keeps the base keys."""
    return f"(CASE WHEN c = 0 THEN 0 ELSE hash({seed}, c, '{table}') % {n} END)"


def _star_sql(seed: int, n: dict[str, int]) -> dict[str, str]:
    def fk(col: str, table: str) -> str:
        return f"CAST(c * {n[table]} + ({col} + {_rot(seed, table, n[table])}) % {n[table]} AS BIGINT)"

    def pk(col: str, table: str) -> str:
        return f"CAST(c * {n[table]} + {col} AS BIGINT)"

    return {
        "customer": f"""SELECT {pk('c_custkey', 'customer')} AS c_custkey,
            'Customer#' || lpad(CAST({pk('c_custkey', 'customer')} AS VARCHAR), 9, '0') AS c_name,
            c_nationkey, c_acctbal, c_mktsegment FROM customer, copies""",
        "supplier": f"""SELECT {pk('s_suppkey', 'supplier')} AS s_suppkey,
            'Supplier#' || lpad(CAST({pk('s_suppkey', 'supplier')} AS VARCHAR), 9, '0') AS s_name,
            s_nationkey, s_acctbal FROM supplier, copies""",
        "part": f"""SELECT {pk('p_partkey', 'part')} AS p_partkey, p_name, p_brand, p_type, p_size,
            p_retailprice FROM part, copies""",
        "orders": f"""SELECT {pk('o_orderkey', 'orders')} AS o_orderkey,
            {fk('o_custkey', 'customer')} AS o_custkey, o_orderstatus, o_totalprice, o_orderdate,
            o_orderpriority FROM orders, copies""",
        "lineitem": f"""SELECT {fk('l_orderkey', 'orders')} AS l_orderkey,
            {fk('l_partkey', 'part')} AS l_partkey, {fk('l_suppkey', 'supplier')} AS l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
            l_linestatus, l_shipdate FROM lineitem, copies""",
    }


def _corpus_sql(seed: int, n_docs: int) -> str:
    # Exactly DUP_SHARE of each copy's docs (by seeded rank) stay verbatim.
    n_dup = round(DUP_SHARE * n_docs)
    shuffled = (f"array_to_string(list_transform(list_sort(list_transform(string_split(text, ' '), "
                f"(w, j) -> {{'k': hash({seed}, c, doc_id, j), 'w': w}})), s -> s.w), ' ')")
    return f"""SELECT CAST(c * {n_docs} + doc_id AS BIGINT) AS doc_id,
        CASE WHEN c = 0 OR dup_rank <= {n_dup} THEN text ELSE {shuffled} END AS text,
        lang, source, n_chars
        FROM (SELECT *, row_number() OVER (PARTITION BY c ORDER BY hash({seed}, c, doc_id), doc_id) AS dup_rank
              FROM documents, copies)"""


KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice",
    "events": "event_id", "documents": "doc_id",
}


def generate(out_dir: Path, seed: int, scale: float, copies: int = 1,
             doc_scale: float | None = None) -> dict[str, int]:
    """Write every table of ``TABLES`` as ``out_dir/<table>.parquet``
    (see the module docstring); ``documents`` is sized by ``doc_scale``
    when given. Returns the row count of each table."""
    if copies < 1:
        raise ValueError(f"copies must be at least 1, not {copies}")
    out_dir = Path(out_dir)
    if out_dir.exists():
        shutil.rmtree(out_dir)
    out_dir.mkdir(parents=True)
    n = {t: _n(t, scale) for t in ROWS}
    if doc_scale is not None:
        n["documents"] = _n("documents", doc_scale)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        for table, sql in _base_sql(n).items():
            con.execute(f"CREATE TABLE {table} AS {sql}")
        con.execute(f"CREATE TABLE copies AS SELECT c FROM range({copies}) r(c)")
        final = {t: f"SELECT * FROM {t}" for t in TABLES}
        if copies > 1:
            final.update(_star_sql(seed, n))
            final["documents"] = _corpus_sql(seed, n["documents"])
        counts = {}
        for table in TABLES:
            path = out_dir / f"{table}.parquet"
            _write(con, final[table], path, seed, KEYS[table])
            counts[table] = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
        return counts
    finally:
        con.close()


def _write(con: duckdb.DuckDBPyConnection, sql: str, path: Path, seed: int, key: str) -> None:
    # Row order is a seeded permutation; ORDER BY keeps the file
    # identical for identical seeds whatever the thread count.
    con.execute(
        f"COPY (SELECT * FROM ({sql}) ORDER BY hash({seed}, {key}), {key}) "
        f"TO '{path}' (FORMAT PARQUET, COMPRESSION ZSTD)"
    )
