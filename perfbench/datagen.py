"""Deterministic synthetic inputs for the benchmark, generated with DuckDB.

The tables have the schema of the repository's TPC-H-ish test data (region,
nation, customer, supplier, part, orders, lineitem, events, documents), so
the inventory's headline statements and their DuckDB oracles run on them
unchanged. Every value is a function of the row number through DuckDB's
``hash()``, so a scale always produces the same rows.

``scale`` is the TPC-H-style scale factor: scale 0.1 gives 600 k-ish
lineitem rows and 5 000 documents, scale 1 ten times that.

The documents corpus plants two kinds of duplicates:

* near-duplicate variants: about 10 % of documents are
  ``'variant <k> of ' || <text of an earlier document>``;
* exact copies: about 1 % of documents repeat an earlier document's text
  verbatim. ``exact_copy_ids`` lists them; a correct dedup drops all of
  them.

Generated data lives in a directory with a ``manifest.json`` holding the
generator version and a fingerprint (sizes + mtimes) of every file;
``ensure`` regenerates only when the fingerprint no longer matches.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

GENERATOR_VERSION = 1

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

_VOCAB = (
    "spark data query table join scan filter group sort window order key "
    "value row column batch stream hash merge agg part line vector fast "
    "slow big small customer supplier nation region market price ship "
    "widget bolt ring gear plan cache"
).split()

_COLORS = "blue red green black white hot large small plain bright".split()
_NOUNS = "ring bolt widget gear nut spring valve pipe plate frame".split()


def _sql(scale: float, out: str) -> list[str]:
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_user = max(int(15_000 * scale), 10)
    n_doc = int(50_000 * scale)
    vocab = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"
    colors = "[" + ", ".join(f"'{w}'" for w in _COLORS) + "]"
    nouns = "[" + ", ".join(f"'{w}'" for w in _NOUNS) + "]"
    pq = "(format parquet, row_group_size 100000)"
    return [
        # r(i, salt): a deterministic pseudo-random UBIGINT per (row, salt)
        "create or replace macro r(i, s) as cast(hash(i, s) >> 1 as bigint)",
        f"""copy (select * from (values (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'),
                 (3, 'EUROPE'), (4, 'MIDDLE EAST')) t(r_regionkey, r_name))
            to '{out}/region.parquet' {pq}""",
        f"""copy (select cast(i as integer) as n_nationkey, 'NATION_' || i as n_name,
                 cast(i % 5 as integer) as n_regionkey from range(25) t(i))
            to '{out}/nation.parquet' {pq}""",
        f"""copy (select i as c_custkey, 'Customer#' || lpad(cast(i as varchar), 9, '0') as c_name,
                 cast(r(i, 'cn') % 25 as integer) as c_nationkey,
                 round(-999.99 + (r(i, 'ca') % 1099980) / 100.0, 2) as c_acctbal,
                 (['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING', 'FURNITURE'])[1 + r(i, 'cm') % 5] as c_mktsegment
            from range({n_cust}) t(i)) to '{out}/customer.parquet' {pq}""",
        f"""copy (select i as s_suppkey, 'Supplier#' || lpad(cast(i as varchar), 9, '0') as s_name,
                 cast(r(i, 'sn') % 25 as integer) as s_nationkey,
                 round(-999.99 + (r(i, 'sa') % 1099980) / 100.0, 2) as s_acctbal
            from range({n_supp}) t(i)) to '{out}/supplier.parquet' {pq}""",
        f"""copy (select i as p_partkey,
                 {colors}[1 + r(i, 'pc') % {len(_COLORS)}] || ' ' || {nouns}[1 + r(i, 'pn') % {len(_NOUNS)}] as p_name,
                 'Brand#' || (1 + r(i, 'pb') % 25) as p_brand,
                 (['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'])[1 + r(i, 'pt') % 6] as p_type,
                 cast(1 + r(i, 'ps') % 50 as integer) as p_size,
                 900.0 + (i % 1000) / 10.0 as p_retailprice
            from range({n_part}) t(i)) to '{out}/part.parquet' {pq}""",
        f"""create or replace temp table ord as
            select i as o_orderkey,
                   cast(r(i, 'oc') % {n_cust} as bigint) as o_custkey,
                   (['O', 'F', 'P'])[1 + r(i, 'os') % 3] as o_orderstatus,
                   round(1000.0 + (r(i, 'op') % 49900000) / 100.0, 2) as o_totalprice,
                   timestamp '1995-01-01' + to_days(cast(r(i, 'od') % 2404 as integer)) as o_orderdate,
                   (['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])[1 + r(i, 'oo') % 5] as o_orderpriority,
                   cast(1 + r(i, 'nl') % 7 as integer) as n_lines
            from range({n_ord}) t(i)""",
        f"""copy (select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
                  from ord order by o_orderkey) to '{out}/orders.parquet' {pq}""",
        f"""copy (select o_orderkey as l_orderkey,
                 cast(r(k, 'lp') % {n_part} as bigint) as l_partkey,
                 cast(r(k, 'ls') % {n_supp} as bigint) as l_suppkey,
                 cast(ln + 1 as integer) as l_linenumber,
                 cast(1 + r(k, 'lq') % 50 as double) as l_quantity,
                 round((1 + r(k, 'lq') % 50) * (900.0 + (r(k, 'lp') % {n_part} % 1000) / 10.0), 2) as l_extendedprice,
                 (r(k, 'ld') % 11) / 100.0 as l_discount,
                 (r(k, 'lt') % 9) / 100.0 as l_tax,
                 (['N', 'A', 'R'])[1 + r(k, 'lr') % 3] as l_returnflag,
                 (['O', 'F'])[1 + r(k, 'll') % 2] as l_linestatus,
                 timestamp '1995-01-02' + to_days(cast(r(k, 'lsd') % 2498 as integer)) as l_shipdate
            from (select o_orderkey, ln, o_orderkey * 8 + ln as k
                  from ord, range(7) s(ln) where ln < n_lines)
            order by l_orderkey, l_linenumber) to '{out}/lineitem.parquet' {pq}""",
        f"""copy (select i as event_id,
                 timestamp '2024-01-01' + to_microseconds(cast(i * (2592000000000 // {n_evt}) + r(i, 'et') % 1000000 as bigint)) as ts,
                 cast(r(i, 'eu') % {n_user} as bigint) as user_id,
                 (['signup', 'click', 'error', 'view', 'purchase'])[1 + r(i, 'ey') % 5] as event_type,
                 round((r(i, 'ev') % 56021) / 100.0, 2) as value,
                 '{{"k": ' || (r(i, 'ek') % 100) || '}}' as props
            from range({n_evt}) t(i)) to '{out}/events.parquet' {pq}""",
        # base texts: 8..100 words drawn from the vocabulary
        f"""create or replace temp table doc_base as
            select i as doc_id,
                   array_to_string(list_transform(range(8 + cast(r(i, 'dw') % 93 as integer)),
                                   k -> {vocab}[1 + r(i * 1000 + k, 'dv') % {len(_VOCAB)}]), ' ') as text
            from range({n_doc}) t(i)""",
        # ~10 % near-dup variants and ~1 % exact copies of an earlier base
        # doc (doc 0 is always a base doc, and the fallback source)
        f"""create or replace temp table doc_kind0 as
            select doc_id,
                   case when doc_id > 0 and r(doc_id, 'dk') % 100 < 1 then 'copy'
                        when doc_id > 0 and r(doc_id, 'dk') % 100 < 11 then 'variant'
                        else 'base' end as kind,
                   case when doc_id > 0 then r(doc_id, 'ds') % doc_id else 0 end as src1,
                   case when doc_id > 0 then r(doc_id, 'ds2') % doc_id else 0 end as src2
            from doc_base""",
        """create or replace temp table doc_kind as
            select k.doc_id, k.kind,
                   case when s1.kind = 'base' then k.src1
                        when s2.kind = 'base' then k.src2 else 0 end as src
            from doc_kind0 k join doc_kind0 s1 on s1.doc_id = k.src1
                 join doc_kind0 s2 on s2.doc_id = k.src2""",
        f"""copy (select k.doc_id,
                 case k.kind when 'copy' then s.text
                             when 'variant' then 'variant ' || k.doc_id || ' of ' || s.text
                             else b.text end as text,
                 (['en', 'zh', 'de', 'fr', 'es'])[1 + r(k.doc_id, 'dl') % 5] as lang,
                 'src' || (r(k.doc_id, 'dsrc') % 20) as source,
                 cast(length(case k.kind when 'copy' then s.text
                                  when 'variant' then 'variant ' || k.doc_id || ' of ' || s.text
                                  else b.text end) as bigint) as n_chars,
                 k.kind = 'copy' as planted_copy
            from doc_kind k join doc_base b on b.doc_id = k.doc_id
                 join doc_base s on s.doc_id = k.src
            order by k.doc_id) to '{out}/documents_full.parquet' {pq}""",
        f"""copy (select doc_id, text, lang, source, n_chars from '{out}/documents_full.parquet'
                  order by doc_id) to '{out}/documents.parquet' {pq}""",
    ]


def fingerprint(path: str) -> dict[str, list[int]]:
    """(size, mtime_ns) of every generated file under ``path``."""
    fp: dict[str, list[int]] = {}
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            fp[os.path.relpath(p, path)] = [st.st_size, st.st_mtime_ns]
    return fp


def _manifest_ok(out: str, scale: float) -> bool:
    try:
        with open(os.path.join(out, "manifest.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return False
    return (
        m.get("version") == GENERATOR_VERSION
        and m.get("scale") == scale
        and m.get("fingerprint") == fingerprint(out)
    )


def generate(out: str, scale: float) -> None:
    import duckdb

    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    con = duckdb.connect()
    try:
        con.execute("set threads to 4")
        con.execute("set enable_progress_bar = false")
        con.execute(f"set temp_directory = '{out}/.duckdb_tmp'")
        for stmt in _sql(scale, out):
            con.execute(stmt)
    finally:
        con.close()
    os.remove(os.path.join(out, "documents_full.parquet"))
    shutil.rmtree(os.path.join(out, ".duckdb_tmp"), ignore_errors=True)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(
            {"version": GENERATOR_VERSION, "scale": scale, "fingerprint": fingerprint(out)},
            f, indent=1,
        )


def ensure(out: str, scale: float) -> tuple[dict[str, list[int]], bool]:
    """Generate ``out`` at ``scale`` unless its fingerprint still matches.

    Generation runs in a child process, so DuckDB's memory does not count
    in the caller's peak RSS. Returns (fingerprint, generated_now)."""
    if _manifest_ok(out, scale):
        return fingerprint(out), False
    subprocess.run([sys.executable, "-m", "perfbench.datagen", out, repr(scale)], check=True)
    return fingerprint(out), True


def exact_copy_ids(scale: float) -> set[int]:
    """Ids of the documents planted as verbatim copies of an earlier one."""
    import duckdb

    n_doc = int(50_000 * scale)
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""select i from range(1, {n_doc}) t(i)
                where cast(hash(i, 'dk') >> 1 as bigint) % 100 < 1"""
        ).fetchall()
    finally:
        con.close()
    return {int(r[0]) for r in rows}


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
