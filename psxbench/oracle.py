"""The DuckDB oracle, as the benchmark's untimed correctness gate.

Every op's result is canonicalised the way ``tests/oracle_check``
canonicalises it (column names lower-cased and sorted, cells by
type, rows sorted) and compared with the same canonical form of
``ORACLE_SQL[name]`` run by DuckDB on the op's own input directory.
The expected form is cached by (SQL, input content hash): a mix
re-reads the same content under a fresh path every pass, so DuckDB
runs once per distinct input, not once per op.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa

from tests.oracle_check import _canon_rows


def content_hash(data_dir: str) -> str:
    """Hash of the names and bytes of every parquet file in ``data_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], str, int]:
    """(sorted lower-case column names, digest of the canonical rows,
    row count) — equal for two results exactly when tests/oracle_check
    would call them a match."""
    lower = [c.lower() for c in cols]
    digest = hashlib.sha256(
        "\n".join(_canon_rows(lower, rows)).encode()).hexdigest()
    return sorted(lower), digest, len(rows)


def arrow_canonical(tbl: pa.Table) -> tuple[list[str], str, int]:
    cols = tbl.column_names
    return canonical(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])


class Oracle:
    """DuckDB with at most ``threads`` threads, one connection per
    query, expected results cached by input content."""

    def __init__(self, threads: int):
        self.threads = threads
        self._dir_hash: dict[str, str] = {}
        self._expected: dict[tuple[str, str], tuple] = {}
        self.duckdb_runs = 0

    def expected(self, sql: str, data_dir: str) -> tuple[list[str], str, int]:
        if data_dir not in self._dir_hash:
            self._dir_hash[data_dir] = content_hash(data_dir)
        key = (hashlib.sha256(sql.encode()).hexdigest(), self._dir_hash[data_dir])
        if key not in self._expected:
            self._expected[key] = arrow_canonical(self._run(sql, data_dir))
            self.duckdb_runs += 1
        return self._expected[key]

    def _run(self, sql: str, data_dir: str) -> pa.Table:
        con = duckdb.connect(config={"threads": self.threads})
        try:
            for name in sorted(os.listdir(data_dir)):
                if name.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{name}')")
            return con.execute(sql).arrow()
        finally:
            con.close()

    def check(self, sql: str, data_dir: str, got: pa.Table) -> str | None:
        """None when ``got`` matches the oracle, else what differs."""
        want = self.expected(sql, data_dir)
        try:
            have = arrow_canonical(got)
        except TypeError as e:  # a container cell: unhashable for the oracle
            return str(e)
        if have == want:
            return None
        if have[0] != want[0]:
            return f"columns {have[0]} != {want[0]}"
        if have[2] != want[2]:
            return f"rows {have[2]} != {want[2]}"
        return "values differ"
