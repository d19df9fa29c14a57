"""Result checks, run off the clock.

OLAP results are compared with DuckDB running the statement's oracle
over the same parquet files. The comparison is the order-insensitive one
of ``scripts/check_correctness.py``: columns sorted by name, floats
rounded to 9 digits (NaN as a string), and the rows compared as a multiset.
"""

from __future__ import annotations

import datetime
import math
from collections import Counter

import duckdb
import pyarrow as pa


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # Spark's Arrow timestamps carry the session zone (UTC); DuckDB's
        # TIMESTAMP is naive UTC
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], Counter]:
    """Columns sorted by name, and the rows as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = tuple(columns[i] for i in order)
    return cols, Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def arrow_canonical(table):
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return canonical(cols, zip(*data))


def sorted_rows(table):
    """The table with its rows sorted on every column, so two tables of
    the same schema are equal exactly when they hold the same rows."""
    return table.sort_by([(c, "ascending") for c in table.column_names])


class Oracle:
    """DuckDB over one data directory, with a view per table."""

    def __init__(self, data_dir: str, tables) -> None:
        self.con = duckdb.connect()
        self.con.execute("set threads to 4")
        for t in tables:
            self.con.execute(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
        # key -> (sorted result, sorted DuckDB answer) of a result that
        # passed the full compare
        self._checked: dict[str, tuple] = {}

    def expected(self, sql: str):
        rel = self.con.sql(sql)
        return canonical(rel.columns, rel.fetchall())

    def matches(self, table, sql: str, key: str) -> bool:
        """Whether ``table`` is DuckDB's answer to ``sql``.

        A result passes without the (slow, row-by-row Python) full
        compare if it and DuckDB's answer to its own ``sql`` hold the
        same rows as a pair under the same ``key`` that passed it."""
        answer = self.con.sql(sql).arrow()
        try:
            pair = (sorted_rows(table), sorted_rows(answer))
        except (pa.ArrowNotImplementedError, pa.ArrowTypeError):  # a type arrow cannot sort
            pair = None
        seen = self._checked.get(key)
        if pair is not None and seen is not None and all(
            a.equals(b) for a, b in zip(pair, seen)
        ):
            return True
        ok = arrow_canonical(table) == self.expected(sql)
        if ok and pair is not None and seen is None:
            self._checked[key] = pair
        return ok

    def close(self) -> None:
        self.con.close()
