"""DuckDB oracle comparison for registry queries.

Same rule as the repository's correctness gate, whose value hash it
imports (``tools/check.py`` ``canonical_hash``): row count, column
names, and an order-insensitive value hash with doubles rounded to 9
significant digits.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from cassandra_log_analyzer_mcp_spark.sources.tables import TABLE_NAMES
from tools.check import canonical_hash


def result_key(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """What the comparison looks at: row count, column names, value hash."""
    return len(df), tuple(sorted(c.lower() for c in df.columns)), canonical_hash(df)


class Oracle:
    """One DuckDB connection over the parquet tables of ``sf_dir``."""

    def __init__(self, sf_dir: str, sql: dict[str, str]):
        self.sql = sql
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def key(self, name: str) -> tuple[int, tuple[str, ...], str]:
        """``result_key`` of query ``name``'s oracle twin."""
        return result_key(self.con.execute(self.sql[name]).fetchdf())

    def close(self) -> None:
        self.con.close()
