"""Output check against the DuckDB oracle, with the repository's
driver-mirror rules from ``tools/oracle_diff.py``: no nested output
columns, then columns, row count and a dtype-sensitive value digest after
name-sorting the columns and lexsorting the rows.

``tools.oracle_diff.compare_one`` runs the query itself; here the Spark
rows come from the benchmark's warm-up pass, so each operation executes
once for both purposes. ``compare`` applies the same tests to those rows.

The oracle side depends only on the SQL and the generated tables, so its
columns, row count and digest are kept in an ``OracleCache`` file next to
the tables; runs after the first skip the DuckDB queries (the graph
oracles take seconds each).
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from tools.oracle_diff import canon_pdf, digest


class OracleCache:
    """Oracle summaries keyed by a hash of the SQL and the table files."""

    def __init__(self, path: str, sf_dir: str) -> None:
        self.path = path
        files = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
        self._tables = json.dumps([(f, os.path.getsize(os.path.join(sf_dir, f))) for f in files])
        self._dirty = False
        try:
            with open(path, encoding="utf-8") as fh:
                self._entries = json.load(fh)
        except (OSError, ValueError):
            self._entries = {}

    def summary(self, oracle_sql: str, con) -> dict:
        key = hashlib.sha256((self._tables + oracle_sql).encode()).hexdigest()
        if key not in self._entries:
            d_pdf = canon_pdf(con.sql(oracle_sql).fetchdf())
            self._entries[key] = {
                "columns": list(d_pdf.columns), "rows": len(d_pdf), "digest": digest(d_pdf),
            }
            self._dirty = True
        return self._entries[key]

    def save(self) -> None:
        if self._dirty:
            tmp = f"{self.path}.{os.getpid()}.tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(self._entries, fh)
            os.replace(tmp, self.path)
            self._dirty = False


def compare(spark_rows: pd.DataFrame, oracle_sql: str | None, con, cache: OracleCache) -> list[str]:
    """Mismatches between Spark's rows and the oracle's; empty when equal.

    With no oracle the rows only have to survive the canonical sort, as in
    the oracle_diff rows-only path."""
    s_pdf = canon_pdf(spark_rows)
    if oracle_sql is None:
        return []
    want = cache.summary(oracle_sql, con)
    if list(s_pdf.columns) != want["columns"]:
        return [f"columns differ: spark={list(s_pdf.columns)} duck={want['columns']}"]
    if len(s_pdf) != want["rows"]:
        return [f"row count differs: spark={len(s_pdf)} duck={want['rows']}"]
    if digest(s_pdf) != want["digest"]:
        return ["value digest differs"]
    return []
