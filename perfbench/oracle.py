"""Output checks, run untimed after the timed pass.

Catalog entries are compared with their DuckDB oracle by the engine's
canonical rule (the one ``tools/drive_driver_protocol.py`` applies): columns
sorted by name, rows sorted, floats compared bitwise (NaN equals NaN, and
``-0.0`` differs from ``0.0``), every other cell compared with ``==``.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _same_cell(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        xf, yf = float(x), float(y)
        if math.isnan(xf) or math.isnan(yf):
            return math.isnan(xf) and math.isnan(yf)
        return xf == yf and math.copysign(1, xf) == math.copysign(1, yf)
    return bool(x == y)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Return why two results differ under the canonical rule, or None."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _same_cell(x, y):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


class Oracle:
    """A DuckDB connection with the star tables of one directory as views."""

    def __init__(self, data_dir: str, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")

    def result(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


def tables_read(oracle_sql: str) -> list[str]:
    """The star tables an entry's oracle names: the entry's input."""
    return [t for t in TABLES if re.search(rf"\b{t}\b", oracle_sql)]
