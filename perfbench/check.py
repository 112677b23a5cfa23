"""Output check, run untimed after the measured passes.

EXACT and ROUND queries go through ``etl_finance_spark.testing.compare``
against their DuckDB oracle over the same parquet files. Each oracle's
result is kept in a DuckDB file in the checkout, keyed by the oracle's
text and the input files, so a recursive-CTE oracle runs once per
checkout rather than once per run; ``compare`` then reads that table.
WEAK queries (no oracle: ANN, PQ, MinHash) must return rows and the
order-insensitive hash recorded in ``weak_hashes.json``; a changed hash
means the query's output changed, and the failure names the new hash.
"""

from __future__ import annotations

import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

WEAK_HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "weak_hashes.json")


def row_hash(columns: list[str], rows) -> str:
    """sha256 over the rows' reprs, columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
    return h.hexdigest()


def data_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class OutputCheck:
    def __init__(self, data_dir: str, cache_path: str):
        from etl_finance_spark.testing import duck_connect

        self.con = duck_connect(data_dir)
        try:
            self.con.execute(f"ATTACH '{cache_path}' AS oracle_cache")
        except duckdb.Error:  # a file left unreadable by a killed run
            os.remove(cache_path)
            self.con.execute(f"ATTACH '{cache_path}' AS oracle_cache")
        self.digest = data_digest(data_dir)
        with open(WEAK_HASHES) as f:
            self.weak = json.load(f)

    def close(self) -> None:
        self.con.close()

    def expected(self, oracle: str) -> str:
        """SQL reading the oracle's cached result, computing it on a miss."""
        key = hashlib.sha256((oracle + self.digest).encode()).hexdigest()[:24]
        table = f"oracle_cache.r_{key}"
        if not self.con.execute(
                "SELECT 1 FROM duckdb_tables() WHERE database_name = "
                "'oracle_cache' AND table_name = ?", [f"r_{key}"]).fetchall():
            self.con.execute(f"CREATE TABLE {table} AS {oracle.strip().rstrip(';')}")
        return f"SELECT * FROM {table}"

    def one(self, spec, df, sql: str | None) -> str | None:
        """None when the output is right, else why it is not."""
        from etl_finance_spark.testing import compare

        if sql is not None:
            cur = self.con.cursor()
            try:
                ok, msg = compare(df, cur, sql)
            finally:
                cur.close()
            return None if ok else msg
        rows = df.collect()
        if not rows:
            return "WEAK query returned no rows"
        got = row_hash(df.columns, rows)
        want = self.weak.get(spec.name)
        return None if got == want else f"WEAK hash {got} != recorded {want}"

    def all(self, items: list[tuple], threads: int) -> dict[str, str]:
        """Check (spec, df) pairs; returns {query: why} for failures.
        Oracle tables are filled first, one at a time; the Spark side
        then runs ``threads`` queries at once."""
        from metrics import error_text

        sqls = {}
        for spec, _ in items:
            try:
                sqls[spec.name] = spec.oracle and self.expected(spec.oracle)
            except duckdb.Error as exc:
                sqls[spec.name] = exc

        def run(item):
            spec, df = item
            sql = sqls[spec.name]
            if isinstance(sql, Exception):
                return f"oracle failed: {error_text(sql)}"
            try:
                return self.one(spec, df, sql)
            except Exception as exc:  # reported as this query's failure
                return error_text(exc)

        with ThreadPoolExecutor(threads) as pool:
            whys = list(pool.map(run, items))
        return {spec.name: why for (spec, _), why in zip(items, whys) if why}
