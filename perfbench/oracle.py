"""Output check: a query's Spark result against its ``oracle_sql()`` twin
run by DuckDB over the same generated files.

Canonicalisation follows the repository's oracle tests: columns sorted by
name, numeric cells tagged with their kind (an int 3 and a float 3.0
differ), timestamps made naive, rows compared as a sorted multiset.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("f", "NaN") if math.isnan(f) else ("f", f)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


class Oracle:
    """DuckDB views over one input directory; ``mismatch`` names the first
    difference between a Spark result and the oracle, or returns None."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def mismatch(self, sql: str, got: pd.DataFrame) -> str | None:
        want = self.con.execute(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        for a, b in zip(canon(got), canon(want)):
            if a != b:
                return f"row {a} != {b}"
        return None

    def close(self) -> None:
        self.con.close()
