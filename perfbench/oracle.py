"""DuckDB oracle for catalog entries, with an on-disk result cache.

Each catalog entry registers an ANSI-SQL oracle that DuckDB runs over the
same Parquet tables.  Rows are compared as the oracle tests compare them
(``tests/oracle_utils.py``): order-insensitively after sorting columns by
name, floats to 1e-9 relative tolerance, everything else exactly, and an
int never equals a float.  Oracle results are cached under
``.perfbench_cache/`` keyed by the SQL's hash and the data fingerprint, so a
repeated seed skips the DuckDB pass.
"""

from __future__ import annotations

import hashlib
import os
import pickle

# the same comparison the oracle tests use
from tests.oracle_utils import _canon as canon
from tests.oracle_utils import _val_eq


def fingerprint(data_dir: str, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def same_rows(left: list[tuple], right: list[tuple]) -> bool:
    return len(left) == len(right) and all(_val_eq(a, b) for a, b in zip(left, right))


class Oracle:
    def __init__(self, data_dir: str, tables, cache_dir: str):
        self.data_dir, self.tables = data_dir, tuple(tables)
        self.fp = fingerprint(data_dir, self.tables)
        self.cache_dir = cache_dir
        self._con = None
        self.hits = 0

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def rows(self, sql: str) -> list[tuple]:
        key = hashlib.sha256(sql.encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}-{self.fp}.pkl")
        if os.path.exists(path):
            self.hits += 1
            with open(path, "rb") as f:
                return pickle.load(f)
        if self._con is None:
            self._con = self._connect()
        rows = canon(self._con.execute(sql).fetch_df())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(rows, f)
        os.replace(path + ".tmp", path)
        return rows

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
