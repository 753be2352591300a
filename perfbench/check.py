"""Output checks: each timed query against its DuckDB ``oracle_sql()`` twin.

The rule is the package's oracle rule (``tests/oracle.py``): same column
names, same row count, and the same multiset of values, compared
order-insensitively with type-strict cells.

DuckDB and the comparison code are loaded on the first check, so a run
that reads the driver's memory before checking does not count them.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from data_engineering_zoomcamp_projects_spark.catalog import TABLES


class Oracle:
    """One DuckDB connection over the benchmark's tables, opened by the
    first ``mismatch`` and closed by ``close``."""

    def __init__(self, data_dir: str, work_dir: str, threads: int):
        self._args = (data_dir, work_dir, threads)
        self.con = None
        self._spill = None

    def _connect(self) -> None:
        import duckdb

        data_dir, work_dir, threads = self._args
        self._spill = tempfile.mkdtemp(prefix="duckdb_", dir=work_dir)
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{self._spill}'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def mismatch(self, spark_df, sql: str) -> str | None:
        """None when ``spark_df`` matches the oracle, else the first difference."""
        from tests.oracle import compare

        if self.con is None:
            self._connect()
        problems = compare(spark_df, self.con.execute(sql).fetchdf())
        return problems[0] if problems else None

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
        if self._spill is not None:
            shutil.rmtree(self._spill, ignore_errors=True)
