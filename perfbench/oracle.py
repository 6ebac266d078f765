"""Each key's DuckDB oracle (``Query.sql``) over the same generated
parquet tables, compared by the order-insensitive value digest of
``tools/check_oracle.py``."""

from __future__ import annotations

import os
import sys

from twitter_hashtag_sentiment_analysis_spark.io import TABLES

# The repo's own oracle check owns the digest; importing it has no side
# effects.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import table_hash  # noqa: E402


class Oracle:
    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def expect(self, sql: str | None) -> tuple[list[str], list[tuple]] | None:
        """The oracle's columns and rows, or None for a key without one."""
        if sql is None:
            return None
        cur = self.con.cursor()
        res = cur.sql(sql)
        return [d[0] for d in res.description], res.fetchall()

    @staticmethod
    def compare(
        expected: tuple[list[str], list[tuple]] | None, cols: list[str], rows: list[tuple]
    ) -> str | None:
        """None if the Spark rows match the oracle, else the mismatch.
        A key without an oracle only has to return rows."""
        if expected is None:
            return None if rows else "no rows"
        dcols, drows = expected
        if len(rows) != len(drows):
            return f"rows {len(rows)} vs oracle {len(drows)}"
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
        if table_hash(cols, rows) != table_hash(dcols, drows):
            return "value digest differs from oracle"
        return None
