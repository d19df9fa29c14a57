"""The terminal-ORDER-BY local-sort pass (round 13, guide §2.4).

A global Sort over an aggregated/windowed result plans as
``Exchange rangepartitioning(n)`` — a range-bounds sampling job plus an
extra stage, pure scheduler overhead for few-row results. In the
tiny/small statement bands the compiler rewrites the analyzed root to a
single-partition local sort (same total order, no exchange). These
tests pin: the rewrite fires (no range exchange), values are identical
to the unrewritten plan, narrow pipelines are left alone (scan
parallelism preserved), and the off-switch works.
"""

from contextlib import contextmanager


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def _local_sort_off(psql):
    psql.spark.conf.set("spark.psql.localSortSmall", "false")
    try:
        yield
    finally:
        psql.spark.conf.unset("spark.psql.localSortSmall")


def _fresh(psql, text):
    # bypass the plan cache so each compile re-evaluates the gates
    psql._compiler._plan_cache.clear()
    return psql.sql(text)


def test_agg_order_by_drops_range_exchange(psql, sf_dir):
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderstatus, count() as n group by o_orderstatus |> "
        "order by n desc, o_orderstatus"
    )
    df = _fresh(psql, q)
    plan = _plan(df)
    assert "rangepartitioning" not in plan
    # the local sort sits over a 1-partition coalesce, not an exchange
    assert "Coalesce" in plan or "Repartition" in plan


def test_rewrite_values_identical(psql, sf_dir):
    q = (
        f"from '{sf_dir}/lineitem.parquet' |> "
        "select l_returnflag, l_linestatus, sum(l_quantity) as s, count() as n "
        "group by l_returnflag, l_linestatus |> "
        "order by l_returnflag, l_linestatus"
    )
    with _local_sort_off(psql):
        expected = _fresh(psql, q).collect()
    got = _fresh(psql, q).collect()
    assert got == expected


def test_narrow_pipeline_keeps_parallel_sort(psql, sf_dir):
    # no Aggregate/Window below the sort: the rewrite must NOT fire —
    # coalescing would serialize the scan stage
    q = (
        f"from '{sf_dir}/customer.parquet' |> "
        "select c_custkey, length(c_name) as n |> order by c_custkey"
    )
    plan = _plan(_fresh(psql, q))
    assert "rangepartitioning" in plan


def test_order_by_limit_untouched(psql, sf_dir):
    # ORDER BY + LIMIT already fuses to TakeOrderedAndProject; the pass
    # must leave it alone
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderstatus, count() as n group by o_orderstatus |> "
        "order by n desc |> limit 2"
    )
    plan = _plan(_fresh(psql, q))
    assert "TakeOrderedAndProject" in plan


def test_off_switch(psql, sf_dir):
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderstatus, count() as n group by o_orderstatus |> "
        "order by n desc, o_orderstatus"
    )
    with _local_sort_off(psql):
        plan = _plan(_fresh(psql, q))
    assert "rangepartitioning" in plan


def test_order_by_non_projected_column(psql, sf_dir):
    # ORDER BY a column the SELECT drops: Spark wraps the Sort in a
    # Project; the pass rebuilds that wrapper — values must match the
    # unrewritten plan and the range exchange must still disappear
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_custkey, max(o_totalprice) as m group by o_custkey |> "
        "select o_custkey |> order by o_custkey"
    )
    with _local_sort_off(psql):
        expected = _fresh(psql, q).collect()
    df = _fresh(psql, q)
    assert _fresh(psql, q).collect() == expected
