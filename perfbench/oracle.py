"""Output checks, run outside the timed region.

Oracle-backed keys are compared with their DuckDB oracle on the same
generated files, by the repo's parity recipe: columns sorted by name,
values through pandas ``astype(str)`` with no compare-side rounding,
rows sorted, md5 over the result. Every key a workload runs has an
oracle.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from gen import TABLES


def value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(map(tuple, pdf[cols].astype(str).values.tolist()))
    h = hashlib.md5()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.sql("SET threads TO 2")
        for t in TABLES:
            src = f"{data_dir}/{t}.parquet"
            if t == "events":
                src = f"{data_dir}/{t}.parquet/*.parquet" if os.path.isdir(src) else src
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    def check(self, pdf, oracle_sql: str) -> str | None:
        """Return None when ``pdf`` matches the oracle's result; else why
        not."""
        ddf = self.con.sql(oracle_sql).df()
        if sorted(pdf.columns) != sorted(ddf.columns):
            return f"columns {sorted(pdf.columns)} != {sorted(ddf.columns)}"
        if len(pdf) != len(ddf):
            return f"rows {len(pdf)} != oracle {len(ddf)}"
        if value_hash(pdf) != value_hash(ddf):
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self.con.close()
