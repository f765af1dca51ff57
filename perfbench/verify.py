"""Output checks: Spark results against DuckDB oracles on the same parquet.

The comparison is ``assert_frames_match`` of the repository's
``tests/test_oracle_parity.py``: rows order-insensitively, columns by name,
floats with a tight relative tolerance; both sides already round floating
aggregates (``catalog.py`` module docstring). Oracle results depend only
on the oracle SQL and the input files, never on the engine under test, so
they are cached on disk keyed by both.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
import pickle

import pandas as pd

from gen import TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _parity():
    # The repository's own oracle-parity test holds the comparison rules;
    # loaded by path under a private name, so the benchmark judges results
    # exactly as that test does and ``perfbench/tests`` cannot shadow it.
    path = os.path.join(ROOT, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_perfbench_oracle_parity", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """``None`` when the frames hold the same rows, else a one-line reason."""
    try:
        _parity().assert_frames_match(actual, expected, "result")
    except AssertionError as exc:
        return " ".join(str(exc).split())[:300]
    return None


class Oracles:
    """DuckDB over the generated tables, with a disk cache of results."""

    def __init__(self, tables_dir: str, cache_dir: str, tables_digest: str):
        self.tables_dir = tables_dir
        self.cache_dir = cache_dir
        self.tables_digest = tables_digest
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.tables_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def result(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256(f"{self.tables_digest}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        df = self._connect().execute(sql).df()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(df, fh)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
