"""The result check: order-insensitive compare with DuckDB's answer, and
the shortcut for a result that repeats one already checked. No Spark
needed."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.check import Oracle

SQL = "select k, v from t where k > -{lit}"


def _oracle(tmp_path) -> Oracle:
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, None]}), tmp_path / "t.parquet")
    return Oracle(str(tmp_path), ["t"])


def test_rows_in_any_order_match(tmp_path):
    oracle = _oracle(tmp_path)
    try:
        got = pa.table({"v": [None, 0.5, 1.25], "k": [3, 1, 2]})
        assert oracle.matches(got, SQL.format(lit=1), "q")
    finally:
        oracle.close()


def test_wrong_rows_fail_also_after_a_checked_result(tmp_path):
    oracle = _oracle(tmp_path)
    try:
        right = pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, None]})
        assert oracle.matches(right, SQL.format(lit=1), "q")
        # the same rows again (another literal): passes by the shortcut
        assert oracle.matches(right.take([2, 0, 1]), SQL.format(lit=2), "q")
        missing = pa.table({"k": [1, 2], "v": [0.5, 1.25]})
        assert not oracle.matches(missing, SQL.format(lit=3), "q")
        changed = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, None]})
        assert not oracle.matches(changed, SQL.format(lit=4), "q")
    finally:
        oracle.close()
