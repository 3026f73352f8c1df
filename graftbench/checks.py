"""Result checks, run outside the timed phase against DuckDB.

Rowsets are compared with the canonicalization the repo's differential
check uses (``scripts/check_correctness.rowset``): order-insensitive,
exact float repr, normalized decimals. Large outputs are compared by an
order-insensitive DuckDB fingerprint (row count plus the sum of per-row
hashes) computed the same way on both sides.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from graftbench.datagen import TABLES
from scripts.check_correctness import rowset


def digest(cols: list[str], rows: list) -> str:
    """Order-insensitive fingerprint of a result set."""
    canon = rowset([c.lower() for c in cols], [tuple(r) for r in rows])
    return hashlib.sha256(repr(canon).encode()).hexdigest()


class Oracle:
    """A DuckDB connection with one view per generated table."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            if not os.path.exists(f"{data_dir}/{t}.parquet"):
                continue
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._cache: dict[str, str] = {}

    def digest(self, sql: str) -> str:
        """The rowset digest of ``sql``; an oracle that fails yields a
        marker no result digest equals, so its ops count as wrong."""
        if sql not in self._cache:
            try:
                cur = self.con.execute(sql)
                cols = [d[0] for d in cur.description]
                self._cache[sql] = digest(cols, cur.fetchall())
            except duckdb.Error as e:
                self._cache[sql] = f"oracle error: {e}"
        return self._cache[sql]

    def fingerprint(self, relation_sql: str, cols: list[str]) -> tuple:
        """(rows, hash-sum) over ``cols`` of a relation; equal multisets give
        equal fingerprints."""
        col_list = ", ".join(cols)
        return self.con.execute(
            f"SELECT count(*), sum(hash({col_list})) FROM ({relation_sql})"
        ).fetchone()

    def close(self) -> None:
        self.con.close()


def check_all(results, expected: dict[str, str]) -> None:
    """Mark every result whose digest differs from ``expected[r.key]``."""
    for r in results:
        want = expected.get(r.key)
        if r.error is None and r.value != want:
            why = want if want and want.startswith("oracle error") else "rowset differs"
            r.wrong = f"{why} (DuckDB oracle for {r.key[:120]})"
