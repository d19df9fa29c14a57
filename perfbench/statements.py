"""The thirteen headline statements the OLAP workloads run.

Each entry is (PSQL text, DuckDB oracle, filter column). The texts are a
frozen copy of the inventory's headline entries (the same names as
``bench.HEADLINE``), so the workload stays fixed while the program and
its inventory change. ``$SF`` stands for the data directory; the oracle
runs over DuckDB views named after the tables.

The filter column is a non-negative integer output column. A run appends
``|> where <col> > -<literal>`` to the PSQL text and the same predicate
around the oracle, with a fresh seeded literal for every ad-hoc issue, so
each issue is new text (a plan-cache miss) with an unchanged answer.
"""

from __future__ import annotations

STATEMENTS: dict[str, tuple[str, str, str]] = {
    "q01_pricing_summary": (
        """\
        from '$SF/lineitem.parquet' |>
        where l_shipdate <= date '2000-09-02' |>
        select
          l_returnflag,
          l_linestatus,
          cast(round(sum(l_quantity), 0) as bigint) as sum_qty,
          round(sum(l_extendedprice), 2) as sum_base_price,
          sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as sum_disc_price,
          sum(cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) as bigint)) as sum_charge,
          round(avg(l_quantity), 4) as avg_qty,
          round(avg(l_extendedprice), 4) as avg_price,
          round(avg(l_discount), 4) as avg_disc,
          count() as count_order
          group by l_returnflag, l_linestatus |>
        order by l_returnflag, l_linestatus
        """,
        """\
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(l_quantity), 0) AS BIGINT) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_disc_price,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        "count_order",
    ),
    "q03_shipping_priority": (
        """\
        from '$SF/customer.parquet' |>
        where c_mktsegment = 'BUILDING' |>
        as c join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
        as co join '$SF/lineitem.parquet' as l on co.o_orderkey = l.l_orderkey |>
        select
          l_orderkey,
          sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as revenue,
          o_orderdate,
          o_orderpriority
          group by l_orderkey, o_orderdate, o_orderpriority |>
        order by revenue desc, l_orderkey |>
        limit 10
        """,
        """\
        SELECT l_orderkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """,
        "l_orderkey",
    ),
    "q05_nation_volume": (
        """\
        from '$SF/region.parquet' |>
        as r join '$SF/nation.parquet' as n on r.r_regionkey = n.n_regionkey |>
        as rn join '$SF/supplier.parquet' as s on rn.n_nationkey = s.s_nationkey |>
        as rns join '$SF/lineitem.parquet' as l on rns.s_suppkey = l.l_suppkey |>
        as rnsl join '$SF/orders.parquet' as o on rnsl.l_orderkey = o.o_orderkey |>
        select
          r_name,
          n_name,
          sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as revenue,
          count() as n_items
          group by r_name, n_name |>
        order by revenue desc, n_name
        """,
        """\
        SELECT r_name, n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue,
               count(*) AS n_items
        FROM region
        JOIN nation ON r_regionkey = n_regionkey
        JOIN supplier ON n_nationkey = s_nationkey
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY r_name, n_name
        ORDER BY revenue DESC, n_name
        """,
        "n_items",
    ),
    "q06_revenue_forecast": (
        """\
        from '$SF/lineitem.parquet' |>
        where l_shipdate >= date '1996-01-01' |>
        where l_shipdate < date '1997-01-01' |>
        where l_discount between 0.03 and 0.07 |>
        where l_quantity < 24 |>
        select sum(cast(round(l_extendedprice * l_discount * 10000, 0) as bigint)) as revenue, count() as n_rows
        """,
        """\
        SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue, count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
        """,
        "n_rows",
    ),
    "q08_market_share": (
        """\
        from '$SF/lineitem.parquet' |>
        as l join '$SF/part.parquet' as p on l.l_partkey = p.p_partkey |>
        where p_type = 'PROMO' |>
        as lp join '$SF/orders.parquet' as o on lp.l_orderkey = o.o_orderkey |>
        where o_orderdate >= date '1996-01-01' and o_orderdate <= date '1997-12-31' |>
        as lpo join '$SF/supplier.parquet' as s on lpo.l_suppkey = s.s_suppkey |>
        as lpos join '$SF/nation.parquet' as n on lpos.s_nationkey = n.n_nationkey |>
        select year(o_orderdate) as o_year,
          cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint) as volume,
          n_name as supp_nation |>
        select o_year,
          sum(case when supp_nation = 'NATION_5' then volume else 0 end) as nation_volume,
          sum(volume) as total_volume,
          round(cast(sum(case when supp_nation = 'NATION_5' then volume else 0 end) as double)
                / sum(volume), 6) as mkt_share
          group by o_year |>
        order by o_year
        """,
        """\
        SELECT o_year,
               CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS BIGINT) AS nation_volume,
               CAST(sum(volume) AS BIGINT) AS total_volume,
               round(CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS BIGINT) AS DOUBLE)
                     / sum(volume), 6) AS mkt_share
        FROM (
          SELECT year(o_orderdate) AS o_year,
                 CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) AS volume,
                 n.n_name AS supp_nation
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          WHERE p_type = 'PROMO'
            AND o_orderdate >= DATE '1996-01-01' AND o_orderdate <= DATE '1997-12-31')
        GROUP BY o_year
        ORDER BY o_year
        """,
        "o_year",
    ),
    "q13_customer_distribution": (
        """\
        from '$SF/customer.parquet' |>
        as c left join '$SF/orders.parquet' as o
          on c.c_custkey = o.o_custkey and o.o_orderpriority <> '1-URGENT' |>
        select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
        select c_count, count() as custdist group by c_count |>
        order by custdist desc, c_count desc
        """,
        """\
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
        """,
        "c_count",
    ),
    "q21_waiting_supplier": (
        """\
        from '$SF/supplier.parquet' |>
        as s join '$SF/lineitem.parquet' as l1 on s.s_suppkey = l1.l_suppkey |>
        as sl join '$SF/orders.parquet' as o on sl.l_orderkey = o.o_orderkey |>
        where o_orderstatus = 'F' and l_shipdate > o_orderdate + interval 30 day |>
        select s_name, l_orderkey as ok, l_suppkey as sk, o_orderdate as od |>
        where exists (select 1 from '$SF/lineitem.parquet' l2
                      where l2.l_orderkey = ok and l2.l_suppkey <> sk) |>
        where not exists (select 1 from '$SF/lineitem.parquet' l3
                          where l3.l_orderkey = ok and l3.l_suppkey <> sk
                            and l3.l_shipdate > od + interval 30 day) |>
        select s_name, count() as numwait group by s_name |>
        order by numwait desc, s_name |>
        limit 25
        """,
        """\
        SELECT s_name, count(*) AS numwait
        FROM (
          SELECT s_name, l_orderkey AS ok, l_suppkey AS sk, o_orderdate AS od
          FROM supplier s
          JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
          JOIN orders o ON l1.l_orderkey = o.o_orderkey
          WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = ok AND l3.l_suppkey <> sk
                            AND l3.l_shipdate > od + interval 30 day)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 25
        """,
        "numwait",
    ),
    "q_window_rank": (
        """\
        from '$SF/orders.parquet' |>
        select
          o_custkey, o_orderkey, round(o_totalprice, 2) as price,
          row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey) as rk |>
        where rk <= 3 |>
        order by o_custkey, rk
        """,
        """\
        SELECT o_custkey, o_orderkey, price, rk
        FROM (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
                     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders)
        WHERE rk <= 3 ORDER BY o_custkey, rk
        """,
        "o_custkey",
    ),
    "q_semi_join": (
        """\
        from '$SF/customer.parquet' |>
        as c semi join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
        select c_custkey, c_name, round(c_acctbal, 2) as acctbal |>
        order by c_custkey
        """,
        """\
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey
        """,
        "c_custkey",
    ),
    "q_left_join_nulls": (
        """\
        from '$SF/customer.parquet' |>
        as c left join '$SF/orders.parquet' as o on c.c_custkey = o.o_custkey |>
        select c_custkey, count(o_orderkey) as n_orders, round(coalesce(sum(o_totalprice), 0), 2) as spend
          group by c_custkey |>
        order by c_custkey
        """,
        """\
        SELECT c_custkey, count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS spend
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c_custkey ORDER BY c_custkey
        """,
        "c_custkey",
    ),
    "q_asof_join": (
        """\
        with v as (| from '$SF/events.parquet' |> where event_type = 'view' |> select user_id, event_id, ts, value |),
             p as (| from '$SF/events.parquet' |> where event_type = 'purchase' |> select user_id, ts, value |)
        from v |>
        as v asof join p as p on v.user_id = p.user_id and v.ts >= p.ts |>
        select event_id, user_id, value, round(value_r, 3) as last_purchase_value |>
        order by event_id
        """,
        """\
        SELECT v.event_id, v.user_id, v.value, round(p.value, 3) AS last_purchase_value
        FROM (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'view') v
        ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id AND v.ts >= p.ts
        ORDER BY v.event_id
        """,
        "event_id",
    ),
    "q_doc_stats": (
        """\
        from '$SF/documents.parquet' |>
        select
          doc_id,
          lang,
          length(text) as n_chars_actual,
          array_length(string_split(text, ' ')) as n_words,
          round(cast(length(text) as double) / array_length(string_split(text, ' ')), 3) as avg_word_len |>
        order by doc_id
        """,
        """\
        SELECT doc_id, lang,
               length(text) AS n_chars_actual,
               len(string_split(text, ' ')) AS n_words,
               round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 3) AS avg_word_len
        FROM documents ORDER BY doc_id
        """,
        "doc_id",
    ),
    "q_union_distinct": (
        """\
        with hi as (| from '$SF/customer.parquet' |> where c_acctbal > 9000 |> select c_custkey |),
             build as (| from '$SF/customer.parquet' |> where c_mktsegment = 'BUILDING' |> select c_custkey |)
        from hi union from build
        """,
        """\
        SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        UNION
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        """,
        "c_custkey",
    ),
}
