"""The DuckDB side of the correctness gate, computed once per input.

``OracleResults`` stands in for the DuckDB connection that
``naqed_spark.oracle_check.check_key`` queries: ``execute(sql).arrow()``
returns the oracle twin's result table. The inputs are the fixed fixtures
(the seed only permutes key order), so a result depends only on the SQL
text, the input files and the DuckDB version; it is computed on the first
miss and kept as an Arrow IPC file under ``perfbench/.work/oracle``. Later
runs in the same checkout read it back instead of re-running the oracle,
some of which (the recursive closure of ``llm_dedup_groups``) take seconds.
The Spark side of every check still runs in every run.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import pyarrow as pa
from pyarrow import ipc


class _Result:
    def __init__(self, table: pa.Table) -> None:
        self._table = table

    def arrow(self) -> pa.Table:
        return self._table


class OracleResults:
    def __init__(self, input_dir: str, split: bool, tables: list[str], input_id: str,
                 cache_dir: Path) -> None:
        self.input_dir, self.split, self.tables = input_dir, split, tables
        self.input_id = input_id  # names the input files' contents
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        """DuckDB with every table registered as a view, as
        ``oracle_check.duck_connect`` does; a split table is a directory of
        part files."""
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            pattern = f"{self.input_dir}/{t}.parquet" + ("/*.parquet" if self.split else "")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
        return con

    def execute(self, sql: str) -> _Result:
        import duckdb

        name = hashlib.sha256(
            "\0".join([sql, self.input_id, duckdb.__version__]).encode()).hexdigest()
        path = self.cache_dir / f"{name}.arrow"
        if path.exists():
            with ipc.open_file(path) as f:
                return _Result(f.read_all())
        if self._con is None:
            self._con = self._connect()
        table = self._con.execute(sql).arrow()
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        with ipc.new_file(tmp, table.schema) as w:
            w.write_table(table)
        tmp.rename(path)
        return _Result(table)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
