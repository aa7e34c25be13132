"""Output checks, run after the timed region of every run.

An entry with a DuckDB oracle is compared by value hash against the
oracle evaluated on the same generated files, both sides normalized as
the repository's oracle tests do (columns by name, values as strings,
rows sorted). An entry without an oracle must return rows. The Pipeline
chain is checked on the parquet it wrote: every pack fits the token
budget or holds a single sequence, and no chunk token is lost.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    norm = normalize(df)
    return hashlib.sha1(norm.to_csv(index=False).encode()).hexdigest()


class OracleChecker:
    """DuckDB views over the generated files, one per table."""

    def __init__(self, data_dir: Path, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def entry(self, got: pd.DataFrame, oracle_sql: str | None) -> str | None:
        """None when the entry's output is correct, else the reason."""
        if oracle_sql is None:
            return None if len(got) else "no rows and no oracle"
        want = self.con.execute(oracle_sql).df()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        h_got, h_want = value_hash(got), value_hash(want)
        return None if h_got == h_want else f"value hash {h_got[:12]} != oracle {h_want[:12]}"

    def packs(self, packs_dir: Path, budget: int, chunk_tokens: int) -> str | None:
        """Pipeline invariants read back from the written packs."""
        n_bad, packed, n = self.con.execute(
            f"SELECT count(*) FILTER (WHERE n_tokens > {budget} AND n_seqs <> 1), "
            f"sum(n_tokens), count(*) FROM '{packs_dir}/*.parquet'"
        ).fetchone()
        if not n:
            return "no packs written"
        if n_bad:
            return f"{n_bad} packs over the {budget}-token budget"
        if packed != chunk_tokens:
            return f"packed tokens {packed} != chunk tokens {chunk_tokens}"
        return None
