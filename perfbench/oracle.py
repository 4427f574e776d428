"""Result check: each query's Spark output against its DuckDB oracle twin.

Both sides go through ``canon`` of ``tools/check_oracle.py`` (columns
sorted by name, rows sorted by every column, cells rendered column-wise
with ``astype(str)``), and the sha256 of that form is compared. A query
passes when column names, row count and hash agree. Import this module
with the repository root on ``sys.path``.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

from map_reduce_sf_crime_spark.sources.parquet import TABLES
from tools.check_oracle import canon


def digest(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in canon(df):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


class Oracle:
    """DuckDB over the same parquet tables the Spark side reads."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"create view {t} as select * from '{data_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def check(self, spark_df: pd.DataFrame, sql: str) -> str | None:
        """None when the results agree, else a one-line reason."""
        want = self.con.sql(sql).df()
        if sorted(spark_df.columns) != sorted(want.columns):
            return f"columns {sorted(spark_df.columns)} != {sorted(want.columns)}"
        if len(spark_df) != len(want):
            return f"rows {len(spark_df)} != {len(want)}"
        if digest(spark_df) != digest(want):
            return "value hash mismatch"
        return None
