"""Tests of the benchmark's input generator.

Run from the repository root: ``python3 -m pytest perfbench/test_gen.py -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402

SCALE = 0.002


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("gen")
    out = {}
    for name, seed, copies in [("base", 3, 1), ("x8", 3, 8), ("x8_again", 3, 8), ("x8_other", 4, 8)]:
        out[name] = root / name
        gen.generate(out[name], seed, SCALE, copies)
    return out


def _count(con, d, table):
    return con.execute(f"SELECT count(*) FROM '{d}/{table}.parquet'").fetchone()[0]


def test_row_counts_are_x8(con, dirs):
    for t in gen.TABLES:
        base = _count(con, dirs["base"], t)
        want = 8 * base if t in gen.STAR + ("documents",) else base
        assert _count(con, dirs["x8"], t) == want, t


@pytest.mark.parametrize("fk, table, pk", [
    ("lineitem.l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey", "supplier", "s_suppkey"),
])
def test_every_foreign_key_resolves(con, dirs, fk, table, pk):
    src, col = fk.split(".")
    d = dirs["x8"]
    dangling = con.execute(
        f"SELECT count(*) FROM '{d}/{src}.parquet' s "
        f"ANTI JOIN '{d}/{table}.parquet' t ON s.{col} = t.{pk}"
    ).fetchone()[0]
    assert dangling == 0


def test_star_keys_are_unique(con, dirs):
    for t, pk in [("customer", "c_custkey"), ("part", "p_partkey"),
                  ("supplier", "s_suppkey"), ("orders", "o_orderkey")]:
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT {pk}) FROM '{dirs['x8']}/{t}.parquet'").fetchone()
        assert n == distinct, t


def test_duplicate_share_is_the_stated_share(con, dirs):
    n_base = _count(con, dirs["base"], "documents")
    dup, total = con.execute(f"""
        SELECT count(*) FILTER (WHERE c.text = b.text), count(*)
        FROM '{dirs['x8']}/documents.parquet' c
        JOIN '{dirs['base']}/documents.parquet' b ON c.doc_id % {n_base} = b.doc_id
        WHERE c.doc_id >= {n_base}""").fetchone()
    assert abs(dup / total - gen.DUP_SHARE) <= 0.01


def test_permuted_docs_keep_length_language_and_words(con, dirs):
    n_base = _count(con, dirs["base"], "documents")
    bad = con.execute(f"""
        SELECT count(*) FROM '{dirs['x8']}/documents.parquet' c
        JOIN '{dirs['base']}/documents.parquet' b ON c.doc_id % {n_base} = b.doc_id
        WHERE c.lang <> b.lang OR c.n_chars <> b.n_chars OR length(c.text) <> b.n_chars
           OR list_sort(string_split(c.text, ' ')) <> list_sort(string_split(b.text, ' '))
    """).fetchone()[0]
    assert bad == 0


def _rows(con, d, table):
    return con.execute(f"SELECT * FROM '{d}/{table}.parquet'").fetchall()


def test_same_seed_gives_the_same_rows(con, dirs):
    for t in gen.TABLES:
        assert _rows(con, dirs["x8"], t) == _rows(con, dirs["x8_again"], t), t


def test_another_seed_changes_the_replicas(con, dirs):
    assert _rows(con, dirs["x8"], "lineitem") != _rows(con, dirs["x8_other"], "lineitem")


def test_seed_only_reorders_the_base_tables(con, tmp_path, dirs):
    other = tmp_path / "base_other"
    gen.generate(other, 4, SCALE, 1)
    rows, rows_other = _rows(con, dirs["base"], "lineitem"), _rows(con, other, "lineitem")
    assert rows != rows_other
    assert sorted(rows) == sorted(rows_other)
