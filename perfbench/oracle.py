"""Result comparison against the engine's DuckDB oracle twins.

Collected Spark rows and DuckDB results are compared with the typed
normalizer of tools/check_oracle.py: an order-insensitive multiset of
(type, exact value) cells, so an int never equals a float or a decimal.
`toPandas` frames cannot be compared that way (pandas turns integer
columns with nulls into floats and nulls into NaN or NaT); the dashboard's
frames go through the small `loose` shim below instead.
"""

from __future__ import annotations

import datetime as dt
import math
import sys
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

_path = list(sys.path)
from tools.check_oracle import _duckdb_typed_rows, _norm_rows  # noqa: E402

sys.path[:] = _path  # check_oracle puts a fixed path of its own first on sys.path


def typed(cols, rows) -> tuple:
    """Typed, order-insensitive form of a result: (sorted columns, rows)."""
    return tuple(sorted(cols)), tuple(_norm_rows(list(cols), rows))


def _loose_cell(v):
    if v is None or v is pd.NaT:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        f = float(v)
        return ("null",) if math.isnan(f) else ("num", f)
    if isinstance(v, (dt.datetime, pd.Timestamp, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.isoformat())
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    return ("str", str(v))


def loose(cols, rows) -> tuple:
    """Order-insensitive form of a `toPandas` frame's rows, numbers as
    exact doubles and NULL/NaN/NaT as one null."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        tuple(sorted(tuple(_loose_cell(r[i]) for i in order) for r in rows)),
    )


def loose_frame(pdf: pd.DataFrame) -> tuple:
    return loose(list(pdf.columns), pdf.itertuples(index=False, name=None))


class Oracle:
    """One in-memory DuckDB connection with a view per input table."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.data_dir = data_dir
        for t in tables:
            self.view(t)

    def view(self, table: str, where: str = "") -> None:
        self.con.execute(
            f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{self.data_dir}/{table}.parquet') {where}"
        )

    def rows(self, sql: str) -> tuple:
        """Typed form of the result of `sql`."""
        cols, rows, _ = _duckdb_typed_rows(self.con, sql)
        return typed(cols, rows)

    def fetch(self, sql: str) -> list[tuple]:
        """Rows of `sql` as Python values, fetched through Arrow as `rows` does."""
        return _duckdb_typed_rows(self.con, sql)[1]

    def loose_rows(self, sql: str) -> tuple:
        """`loose` form of the result of `sql`, to compare with a frame."""
        cur = self.con.execute(sql)
        return loose([d[0] for d in cur.description], cur.fetchall())

    def close(self) -> None:
        self.con.close()
