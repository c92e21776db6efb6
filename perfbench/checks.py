"""Output checks, run once per benchmark run outside the timed window.

Query results are compared with their DuckDB twins by the repo's own
oracle gate, ``scripts/check_oracles.py``: same columns, same row
count, and the same sorted multiset of per-row hashes over
name-ordered columns (dtype sensitive, temporal units unified).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
from check_oracles import row_hashes  # noqa: E402


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    if row_hashes(got) != row_hashes(want):
        return "value hashes differ"
    return None


class OracleChecker:
    """DuckDB views over the tables of one test-lake directory."""

    def __init__(self, lake_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{lake_dir}/{t}.parquet')"
            )

    def check(self, got: pd.DataFrame, oracle_sql: str) -> str | None:
        """None when ``got`` (a Spark result) equals the oracle's rows,
        else why not."""
        return frames_match(got, self.con.execute(oracle_sql).df())

    def close(self) -> None:
        self.con.close()
