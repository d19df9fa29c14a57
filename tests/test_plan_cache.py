"""Compose/plan cache (compiler._plan_cache).

Compose cost is Python + ~400 py4j round-trips per statement (profiled:
2.0s of the 6.5s sf0.1 interleaved suite). Repeated pure-query
statements must return the SAME DataFrame (skipping compose) while every
invalidation class — DDL/DML epoch, registered or planning conf change,
on-disk data change, named-table sources, sequence access — forces a
fresh compile.
"""

import os
import shutil

import pytest

from duckdb_psql_spark.compiler import PSQL_CONFS, read_psql_confs
from tests.conftest import SF_DIR

LINEITEM = f"{SF_DIR}/lineitem.parquet"
ORDERS = f"{SF_DIR}/orders.parquet"
REGION = f"{SF_DIR}/region.parquet"

Q = (
    f"from '{LINEITEM}' |> where l_quantity > 45 "
    "|> select l_orderkey, l_quantity "
    "|> order by l_quantity desc, l_orderkey |> limit 5"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pure_query_hit_returns_same_dataframe(psql):
    a = psql.sql(Q)
    b = psql.sql(Q)
    assert a is b
    assert [tuple(r) for r in b.collect()] == [tuple(r) for r in a.collect()]


def test_ddl_flushes_cache(psql):
    a = psql.sql(Q)
    psql.sql(
        f"create or replace temp view _pc_v as (| from '{REGION}' |> "
        "select r_regionkey |)"
    )
    assert psql.sql(Q) is not a


def test_named_source_not_cached(psql):
    psql.sql(
        f"create or replace temp view _pc_named as (| from '{REGION}' |> "
        "select r_regionkey |)"
    )
    a = psql.sql("from _pc_named |> order by r_regionkey |> limit 2")
    b = psql.sql("from _pc_named |> order by r_regionkey |> limit 2")
    assert a is not b


def test_planning_conf_change_misses(psql):
    spark = psql.spark
    a = psql.sql(Q)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert psql.sql(Q) is not a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_data_change_self_invalidates(psql, tmp_path):
    src = str(tmp_path / "d.parquet")
    psql.spark.range(3).write.mode("overwrite").parquet(src)
    stmt = f"from '{src}' |> select count() as n"
    assert psql.sql(stmt).collect()[0][0] == 3
    psql.spark.range(5).write.mode("overwrite").parquet(src)
    # dir mtime changed -> key differs -> fresh compile sees new data
    assert psql.sql(stmt).collect()[0][0] == 5


def test_sequence_statements_never_cached(psql):
    psql.sql("create sequence _pc_seq")
    a = psql.sql("select nextval('_pc_seq') as v").collect()[0][0]
    b = psql.sql("select nextval('_pc_seq') as v").collect()[0][0]
    assert (a, b) == (1, 2)


def test_off_switch(psql):
    psql.spark.conf.set("spark.psql.planCache", "false")
    try:
        assert psql.sql(Q) is not psql.sql(Q)
    finally:
        psql.spark.conf.set("spark.psql.planCache", "true")


def test_nondeterministic_statements_never_cached(psql):
    # Spark fixes rand/uuid seeds at analysis time: a cache hit would
    # replay identical "random" values forever (ADVICE r8). Fresh
    # compile per statement restores DuckDB's fresh-draw behavior.
    stmt = f"from '{REGION}' |> select r_regionkey, random() as r |> limit 3"
    a = psql.sql(stmt)
    b = psql.sql(stmt)
    assert a is not b
    va = sorted(r["r"] for r in a.collect())
    vb = sorted(r["r"] for r in b.collect())
    assert va != vb
    assert psql.sql("select uuid() as u") is not psql.sql("select uuid() as u")


def test_glob_source_never_cached(psql, tmp_path):
    # 'dir/*.parquet' expands to a file LIST that changes without any
    # literal path's stat changing — must stay uncacheable
    d = tmp_path / "glob_src"
    d.mkdir()
    psql.spark.range(3).write.parquet(str(d / "a.parquet"))
    stmt = f"from '{d}/*.parquet' |> select count() as n"
    assert psql.sql(stmt) is not psql.sql(stmt)
    assert psql.sql(stmt).collect()[0][0] == 3
    psql.spark.range(4).write.parquet(str(d / "b.parquet"))
    assert psql.sql(stmt).collect()[0][0] == 7


def test_nested_partition_file_change_invalidates(psql, tmp_path):
    # replacing a file inside a partition SUBDIR doesn't bump the top
    # dir's mtime — the key must fingerprint recursively (ADVICE r8)
    import pyspark.sql.functions as F

    src = str(tmp_path / "part_src")
    psql.spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(src)
    stmt = f"from '{src}' |> select count() as n"
    assert psql.sql(stmt).collect()[0][0] == 4
    top_stat = os.stat(src)
    psql.spark.range(10).withColumn("p", F.lit(0)).write.mode(
        "overwrite"
    ).partitionBy("p").parquet(src + "_tmp")
    # overwrite ONLY the p=0 subdir in place, preserving top-level mtime
    shutil.rmtree(f"{src}/p=0")
    shutil.copytree(f"{src}_tmp/p=0", f"{src}/p=0")
    os.utime(src, (top_stat.st_atime, top_stat.st_mtime))
    assert psql.sql(stmt).collect()[0][0] == 12


def test_cache_hit_releases_prior_persisted_blocks(psql):
    # a run of cache-hit statements after a persist-heavy one must not
    # pin the prior statement's blocks indefinitely (ADVICE r8)
    comp = psql._compiler
    marker = psql.spark.range(2).persist()
    marker.count()
    comp._persisted_blocks.append(marker)
    psql.sql(Q)  # warm (or hit) the cache
    psql.sql(Q)  # hit path must run the release loop
    assert not comp._persisted_blocks
    assert marker.storageLevel.useMemory is False


def _flipped(default: str) -> str:
    if default == "true":
        return "false"
    return "7" if default != "7" else "8"


@pytest.mark.parametrize("key", sorted(PSQL_CONFS))
def test_every_registered_conf_is_in_the_key(psql, key):
    # the key is built from the same snapshot the pass gates read, so a
    # flipped conf can never be answered by a plan compiled without it
    spark, comp = psql.spark, psql._compiler
    comp._confs = read_psql_confs(spark)
    base = comp._plan_cache_key(Q)
    assert base is not None
    spark.conf.set(key, _flipped(PSQL_CONFS[key][0]))
    try:
        comp._confs = read_psql_confs(spark)
        assert comp._plan_cache_key(Q) != base
    finally:
        spark.conf.unset(key)
        comp._confs = read_psql_confs(spark)


def test_local_sort_flip_recompiles_cached_statement(psql):
    # a cached locally-sorted plan must not answer after the pass is
    # switched off; the plan cache itself stays on
    q = (
        f"from '{ORDERS}' |> "
        "select o_orderstatus, count() as n group by o_orderstatus |> "
        "order by n desc, o_orderstatus"
    )
    a = psql.sql(q)
    assert psql.sql(q) is a
    assert "rangepartitioning" not in _plan(a)
    psql.spark.conf.set("spark.psql.localSortSmall", "false")
    try:
        b = psql.sql(q)
        assert b is not a
        assert "rangepartitioning" in _plan(b)
    finally:
        psql.spark.conf.unset("spark.psql.localSortSmall")


def test_unregistered_conf_read_raises(psql):
    with pytest.raises(KeyError):
        psql._compiler._pass_on("spark.psql.notRegistered")


def test_snapshot_reads_set_and_default_values(spark):
    spark.conf.set("spark.psql.eagerAgg", "false")
    spark.conf.set("spark.psql.cluster.codec", "a -> b, c")
    try:
        confs = read_psql_confs(spark)
    finally:
        spark.conf.unset("spark.psql.eagerAgg")
        spark.conf.unset("spark.psql.cluster.codec")
    assert confs["spark.psql.eagerAgg"] == "false"
    assert confs["spark.psql.cluster.codec"] == "a -> b, c"
    assert confs["spark.psql.planCache"] == PSQL_CONFS["spark.psql.planCache"][0]
    assert list(confs) == list(PSQL_CONFS)


def test_current_setting_statements_never_cached(psql):
    # current_setting() splices the value of ANY conf at compile time,
    # including confs outside the key
    stmt = "select current_setting('spark.psql.testSetting') as v"
    psql.spark.conf.set("spark.psql.testSetting", "a")
    try:
        assert psql.sql(stmt).collect()[0][0] == "a"
        psql.spark.conf.set("spark.psql.testSetting", "b")
        assert psql.sql(stmt).collect()[0][0] == "b"
    finally:
        psql.spark.conf.unset("spark.psql.testSetting")


def test_non_integer_numeric_conf_is_an_error(psql):
    from duckdb_psql_spark.errors import PsqlCompileError

    stmt = (
        f"from '{ORDERS}' |> join '{REGION}' on o_custkey = r_regionkey "
        "|> select count() as n"
    )
    psql.spark.conf.set("spark.psql.broadcastHint.maxBytes", "20MB")
    try:
        with pytest.raises(PsqlCompileError, match="broadcastHint.maxBytes"):
            psql.sql(stmt)
    finally:
        psql.spark.conf.unset("spark.psql.broadcastHint.maxBytes")
    assert psql.sql(stmt).collect()[0][0] >= 0
