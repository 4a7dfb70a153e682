"""Correctness check: hash of a query's canonical rows, Spark vs DuckDB.

The canonical form is the one the test suite compares with: columns sorted
by name, every cell stringified (exact float ``repr``, NULL/NaN as
``NULL``, datetimes via ``isoformat``), rows sorted.  It is kept here, not
imported from the tests, so the benchmark's verdict cannot change when the
tests do.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v) or pd.isna(v):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: sorted column names, then the
    sorted canonical row strings."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    h.update(f"\x1d{len(rows)}\x1d".encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def connect(data_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with views over ``data_dir``.  Memory and spill
    are capped, and spill goes to ``temp_dir``, so a runaway oracle fails
    one query instead of filling the disk or the machine's memory."""
    from dask_expr_rapids_spark.sources.tables import TABLES

    os.makedirs(temp_dir, exist_ok=True)
    con = duckdb.connect(
        config={
            "memory_limit": "2GB",
            "temp_directory": temp_dir,
            "max_temp_directory_size": "4GB",
            "threads": "2",
        }
    )
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class Expected:
    """Oracle hashes for one data set, cached in a JSON file next to it.
    A query registered without SQL gets ``None``: only its rows are
    checked to exist."""

    def __init__(self, cache_path: str, data_dir: str, temp_dir: str):
        self.path, self.data_dir, self.temp_dir = cache_path, data_dir, temp_dir
        self.hashes: dict[str, str | None] = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.hashes = json.load(f)
        self._con = None

    def get(self, name: str, sql: str | None) -> str | None:
        if name not in self.hashes:
            if sql is None:
                self.hashes[name] = None
            else:
                if self._con is None:
                    self._con = connect(self.data_dir, self.temp_dir)
                self.hashes[name] = digest(self._con.execute(sql).df())
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.hashes, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return self.hashes[name]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
