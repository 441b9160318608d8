"""Result checks: DuckDB oracle hashes.

Registry ops are checked once per run, in the untimed warm-up pass:
the Spark result is canonicalised and hashed with the repository's own
``canon``/``value_hash`` (``tools/selfcheck.py``) and compared with the
hash of the query's DuckDB oracle over the same parquet. Every timed
execution's row count must then equal the checked one.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading

import duckdb
import pandas as pd

# tools/selfcheck.py puts its own checkout path first on sys.path; the
# package is already imported from this checkout, so that is inert.
from tools.selfcheck import canon, duck_connection, value_hash  # noqa: E402


def frame_hash(pdf: pd.DataFrame) -> str:
    return value_hash(canon(pdf))


class Oracle:
    """Expected result per registry query. The DuckDB side depends only
    on the generated data, so its row count, columns and hash are kept
    in ``cache_path`` and computed once per checkout."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str], cache_path: str):
        self.data_dir = data_dir
        self.sql = oracle_sql
        self.cache_path = cache_path
        try:
            with open(cache_path) as f:
                self._known = json.load(f)
        except (OSError, ValueError):
            self._known = {}
        self._con: duckdb.DuckDBPyConnection | None = None
        # checks may run on several threads; DuckDB and the cache file
        # are used by one at a time
        self._lock = threading.Lock()

    def _expected(self, name: str) -> dict:
        sql = self.sql[name]
        key = hashlib.sha1(sql.encode()).hexdigest()
        hit = self._known.get(name)
        if hit is None or hit["sql"] != key:
            if self._con is None:
                self._con = duck_connection(self.data_dir)
                self._con.execute("SET threads TO 2")
            pdf = self._con.execute(sql).df()
            hit = {
                "sql": key,
                "rows": len(pdf),
                "columns": sorted(map(str, pdf.columns)),
                "hash": frame_hash(pdf),
            }
            self._known[name] = hit
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._known, f)
            os.replace(tmp, self.cache_path)
        return hit

    def check(self, name: str, spark_pdf: pd.DataFrame) -> str | None:
        """None when ``spark_pdf`` is the right answer, else a reason."""
        if self.sql.get(name) is None:
            return f"{name} has no oracle to check against"
        with self._lock:
            want = self._expected(name)
        if len(spark_pdf) != want["rows"]:
            return f"rows spark={len(spark_pdf)} oracle={want['rows']}"
        if sorted(map(str, spark_pdf.columns)) != want["columns"]:
            return "columns differ from oracle"
        if frame_hash(spark_pdf) != want["hash"]:
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
