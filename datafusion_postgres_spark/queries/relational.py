"""Relational operator battery — scans, filters, joins, aggregations,
windows, sorts, set ops, table functions (SURVEY.md §2.2-2.8).

Each query is the idiomatic DataFrame expression of an operator the
reference exercises through DataFusion; the oracle is plain ANSI SQL for
DuckDB. See queries/__init__.py for cross-engine determinism conventions.

Scale notes are inline: broadcasts for dim tables, single-shuffle
aggregations, window partitioning choices.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_postgres_spark.queries import register, t

DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# aggregation: TPC-H Q1 pricing summary — single hash-shuffle groupBy with
# map-side partial aggregation; the scan prunes to 7 of 11 columns.

@register("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) * 100 + 0.5) AS DOUBLE) / 100 AS sum_disc_price,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) * 100 + 0.5) AS DOUBLE) / 100 AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark, sf_dir):
    # decimal-first arithmetic: cast the raw 2-dp columns to DECIMAL before
    # multiplying — products and sums are exact and order-independent.
    # Final outputs are DOUBLE (never Decimal — see queries/__init__
    # conventions): small sums cast directly (scaled int < 2^53, so the
    # cast is bit-identical across engines); the scale-4/6 sums first
    # reduce to 2 dp via exact-decimal FLOOR(x*100 + 0.5) (tie-free,
    # half-up); averages are one IEEE division of exact sums.
    li = t(spark, sf_dir, "lineitem")
    dec_qty = F.col("l_quantity").cast("decimal(12,2)")
    dec_ext = F.col("l_extendedprice").cast("decimal(12,2)")
    dec_disc = F.col("l_discount").cast("decimal(4,2)")
    dec_tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = dec_ext * (1 - dec_disc)
    charge = disc_price * (1 + dec_tax)
    cnt = F.count("*")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec_qty).cast("double").alias("sum_qty"),
                 F.sum(dec_ext).cast("double").alias("sum_base_price"),
                 (F.floor(F.sum(disc_price) * 100 + 0.5).cast("double") / 100)
                 .alias("sum_disc_price"),
                 (F.floor(F.sum(charge) * 100 + 0.5).cast("double") / 100)
                 .alias("sum_charge"),
                 (F.sum(dec_qty).cast("double") / cnt).alias("avg_qty"),
                 (F.sum(dec_ext).cast("double") / cnt).alias("avg_price"),
                 (F.sum(dec_disc).cast("double") / cnt).alias("avg_disc"),
                 F.count("*").alias("count_order")))


# ---------------------------------------------------------------------------
# join + agg + top-k: TPC-H Q3 — two shuffle joins on the fact tables
# (orders⋈lineitem co-partitioned on orderkey), customer side broadcast.

@register("q3_shipping_priority", oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3(spark, sf_dir):
    # ONE spark.sql parse (round-10 batch 5): the Column-composed build
    # spends ~0.2s of py4j chatter per bench run on this host; the SQL
    # text resolves to the same plan (filters pushed below the joins by
    # the optimizer exactly as the pre-filtered DataFrames were).
    # No forced broadcast: the filtered customer is SF-proportional (~1/5
    # of customer) — AQE broadcasts it by measurement when small, shuffles
    # at scale (round-3 verdict item #2).
    return spark.sql("""
        SELECT l_orderkey, revenue, orderdate FROM (
          SELECT l_orderkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                          (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                   AS revenue,
                 CAST(o_orderdate AS DATE) AS orderdate
          FROM {li} JOIN {o} ON l_orderkey = o_orderkey
                    JOIN {c} ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < CAST('1995-03-15' AS TIMESTAMP_NTZ)
            AND l_shipdate > CAST('1995-03-15' AS TIMESTAMP_NTZ)
          GROUP BY l_orderkey, o_orderdate
        )
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""",
        li=t(spark, sf_dir, "lineitem"), o=t(spark, sf_dir, "orders"),
        c=t(spark, sf_dir, "customer"))


# ---------------------------------------------------------------------------
# multi-way join: TPC-H Q5 shape — dims (region/nation) broadcast; the
# supplier-nation co-membership condition keeps one big shuffle join chain.

@register("q5_local_supplier_volume", oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1994-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""")
def q5(spark, sf_dir):
    # ONE spark.sql parse (round-10 batch 5). The bounded-dim broadcast
    # hints ride in ON the parameter DataFrames (F.broadcast →
    # ResolvedHint in the bound plan), so the join strategy contract is
    # unchanged: nation/region forced (SF-invariant), every
    # SF-proportional side AQE-decided.
    return spark.sql("""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                        (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                 AS revenue
        FROM {cust} JOIN {o} ON c_custkey = o_custkey
             JOIN {li} ON o_orderkey = l_orderkey
             JOIN {s} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             JOIN {n} ON s_nationkey = n_nationkey
             JOIN {r} ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= CAST('1994-01-01' AS TIMESTAMP_NTZ)
          AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP_NTZ)
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""",
        cust=t(spark, sf_dir, "customer"), o=t(spark, sf_dir, "orders"),
        li=t(spark, sf_dir, "lineitem"), s=t(spark, sf_dir, "supplier"),
        n=F.broadcast(t(spark, sf_dir, "nation")),
        r=F.broadcast(t(spark, sf_dir, "region")))


# ---------------------------------------------------------------------------
# outer join preserving unmatched dim rows

@register("join_left_outer", oracle="""
SELECT n_name, COUNT(c_custkey) AS n_customers,
       CAST(COALESCE(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_positive
FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_name
ORDER BY n_name
""")
def join_left(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    return (nation.join(cust, nation.n_nationkey == cust.c_nationkey, "left")
            .groupBy("n_name")
            .agg(F.count("c_custkey").alias("n_customers"),
                 F.coalesce(F.sum(F.when(F.col("c_acctbal") > 0, 1)
                                  .otherwise(0)), F.lit(0))
                 .cast("bigint").alias("n_positive"))
            .orderBy("n_name"))


@register("join_right_outer", oracle="""
SELECT s_name, n_name
FROM nation RIGHT JOIN supplier ON n_nationkey = s_nationkey
ORDER BY s_name
""")
def join_right(spark, sf_dir):
    nation = t(spark, sf_dir, "nation")
    supp = t(spark, sf_dir, "supplier")
    return (nation.join(supp, nation.n_nationkey == supp.s_nationkey, "right")
            .select("s_name", "n_name").orderBy("s_name"))


@register("join_full_outer", oracle="""
WITH big_cust AS (SELECT c_nationkey, COUNT(*) AS nc FROM customer
                  WHERE c_nationkey < 16 GROUP BY c_nationkey),
     big_supp AS (SELECT s_nationkey, COUNT(*) AS ns FROM supplier
                  WHERE s_nationkey >= 10 GROUP BY s_nationkey)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey, nc, ns
FROM big_cust FULL OUTER JOIN big_supp ON c_nationkey = s_nationkey
ORDER BY nationkey
""")
def join_full(spark, sf_dir):
    # disjoint key ranges guarantee unmatched rows on both sides
    cust = (t(spark, sf_dir, "customer").where(F.col("c_nationkey") < 16)
            .groupBy("c_nationkey").agg(F.count("*").alias("nc")))
    supp = (t(spark, sf_dir, "supplier").where(F.col("s_nationkey") >= 10)
            .groupBy("s_nationkey").agg(F.count("*").alias("ns")))
    return (cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
            .select(F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
                    "nc", "ns")
            .orderBy("nationkey"))


# semi/anti joins — Spark plans EXISTS/NOT EXISTS as LeftSemi/LeftAnti:
# no payload columns shuffle from the probe side.

@register("join_semi_exists", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 200000)
ORDER BY c_custkey
""")
def join_semi(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
            .select("c_custkey", "c_name").orderBy("c_custkey"))


@register("join_anti_not_exists", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 300000)
ORDER BY c_custkey
""")
def join_anti(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name").orderBy("c_custkey"))


@register("join_cross_comma", oracle="""
SELECT r1.r_name AS r_a, r2.r_name AS r_b
FROM region r1, region r2
WHERE r1.r_regionkey < r2.r_regionkey
ORDER BY r_a, r_b
""")
def join_cross(spark, sf_dir):
    r1 = t(spark, sf_dir, "region").alias("r1")
    r2 = t(spark, sf_dir, "region").alias("r2")
    return (r1.crossJoin(r2)
            .where(F.col("r1.r_regionkey") < F.col("r2.r_regionkey"))
            .select(F.col("r1.r_name").alias("r_a"),
                    F.col("r2.r_name").alias("r_b"))
            .orderBy("r_a", "r_b"))


@register("join_using", oracle="""
SELECT orderkey, o_totalprice, n_items FROM
  (SELECT o_orderkey AS orderkey, o_totalprice FROM orders) o
  JOIN (SELECT l_orderkey AS orderkey, COUNT(*) AS n_items
        FROM lineitem GROUP BY l_orderkey) l USING (orderkey)
WHERE o_totalprice > 300000
ORDER BY orderkey
""")
def join_using(spark, sf_dir):
    # ONE spark.sql parse (round-10 batch 5): USING-join semantics
    # identical to the DataFrame string-key join.
    return spark.sql("""
        SELECT orderkey, o_totalprice, n_items FROM
          (SELECT o_orderkey AS orderkey, o_totalprice FROM {o}) o
          JOIN (SELECT l_orderkey AS orderkey, COUNT(*) AS n_items
                FROM {li} GROUP BY l_orderkey) l USING (orderkey)
        WHERE o_totalprice > 300000
        ORDER BY orderkey""",
        o=t(spark, sf_dir, "orders"), li=t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# filters / predicates (SURVEY §2.2): IN, BETWEEN, LIKE, IS NULL, CASE

@register("filter_predicates", oracle="""
SELECT p_partkey, p_name, p_brand, p_size,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_class
FROM part
WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p_size BETWEEN 5 AND 40
  AND p_name LIKE '%a%'
  AND p_retailprice IS NOT NULL
ORDER BY p_partkey
""")
def filter_predicates(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    size_class = (F.when(F.col("p_size") < 10, "small")
                  .when(F.col("p_size") < 30, "medium").otherwise("large"))
    return (p.where(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &
                    F.col("p_size").between(5, 40) &
                    F.col("p_name").like("%a%") &
                    F.col("p_retailprice").isNotNull())
            .select("p_partkey", "p_name", "p_brand", "p_size",
                    size_class.alias("size_class"))
            .orderBy("p_partkey"))


# ---------------------------------------------------------------------------
# aggregates: distinct, filter-clause, string_agg, array_agg (SURVEY §2.4)

@register("agg_distinct_filter", oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")
def agg_distinct(spark, sf_dir):
    # min/max of a double involve no arithmetic — emit the raw double
    # (a Decimal output would hit the driver's trailing-zero hash issue).
    # ONE spark.sql parse (round-10 batch 5): count_if == the Column
    # form exactly.
    return spark.sql("""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               count_if(o_totalprice > 100000) AS n_big,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM {o} GROUP BY o_orderstatus ORDER BY o_orderstatus""",
        o=t(spark, sf_dir, "orders"))


@register("agg_string_agg", oracle="""
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM region JOIN nation ON r_regionkey = n_regionkey
GROUP BY r_name ORDER BY r_name
""")
def agg_string_agg(spark, sf_dir):
    # ordered string_agg == array_join(array_sort(collect_list())) — the
    # collect_list order is partition-dependent, sorting restores determinism
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return (r.join(n, r.r_regionkey == n.n_regionkey)
            .groupBy("r_name")
            .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",")
                 .alias("nations"))
            .orderBy("r_name"))


@register("agg_array_agg_ordered", oracle="""
SELECT n_regionkey, array_agg(n_name ORDER BY n_name) AS nation_list
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""")
def agg_array_agg(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    return (n.groupBy("n_regionkey")
            .agg(F.array_sort(F.collect_list("n_name")).alias("nation_list"))
            .orderBy("n_regionkey"))


# grouping sets / rollup / cube (SURVEY §2.4 tail)

@register("agg_rollup", oracle="""
SELECT r_name, n_name, COUNT(*) AS n, CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""")
def agg_rollup(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .rollup("r_name", "n_name")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("s_acctbal").cast("decimal(12,2)")).cast("double")
                 .alias("total_bal"))
            .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name")))


@register("agg_cube", oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""")
def agg_cube(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"))
            .orderBy(F.asc_nulls_first("o_orderstatus"),
                     F.asc_nulls_first("o_orderpriority")))


@register("agg_grouping_sets", oracle="""
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
""")
def agg_grouping_sets(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return (spark.sql(
        """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
           FROM {c} GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
           ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""",
        c=c))


# ---------------------------------------------------------------------------
# window functions (SURVEY §2.5) — partition by a high-cardinality key so
# no single partition dominates at scale.

@register("window_rank_topn", oracle="""
SELECT * FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
         RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk,
         DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS drnk
  FROM customer) x
WHERE rn <= 3 ORDER BY c_nationkey, rn
""")
def window_rank(spark, sf_dir):
    # ONE spark.sql parse (round-10 batch 5): the shared WINDOW clause
    # means one sort for the three ranking functions.
    return spark.sql("""
        SELECT c_nationkey, c_custkey, c_acctbal, rn, rnk, drnk FROM (
          SELECT c_nationkey, c_custkey, c_acctbal,
                 CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
                 CAST(RANK()       OVER w AS BIGINT) AS rnk,
                 CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
          FROM {c}
          WINDOW w AS (PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey)
        ) WHERE rn <= 3 ORDER BY c_nationkey, rn""",
        c=t(spark, sf_dir, "customer"))


@register("window_lag_lead", oracle="""
SELECT o_custkey, o_orderkey,
       o_totalprice AS price,
       LAG(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
FROM orders
ORDER BY o_custkey, o_orderkey LIMIT 500
""")
def window_lag_lead(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (o.select("o_custkey", "o_orderkey",
                     F.col("o_totalprice").alias("price"),
                     F.lag("o_totalprice").over(w).alias("prev_price"),
                     F.lead("o_totalprice").over(w).alias("next_price"))
            .orderBy("o_custkey", "o_orderkey").limit(500))


@register("window_running_frame", oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
       / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3
FROM orders ORDER BY o_custkey, o_orderkey LIMIT 500
""")
def window_frame(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec_price = F.col("o_totalprice").cast("decimal(12,2)")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    w3 = w.rowsBetween(-2, 0)
    return (o.select("o_custkey", "o_orderkey",
                     F.sum(dec_price).over(w_run)
                     .cast("double").alias("running_total"),
                     (F.sum(dec_price).over(w3).cast("double") /
                      F.count("*").over(w3)).alias("moving_avg3"))
            .orderBy("o_custkey", "o_orderkey").limit(500))


@register("window_ntile_first_last", oracle="""
SELECT s_suppkey, s_nationkey,
       NTILE(4) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS quartile,
       FIRST_VALUE(s_name) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS richest,
       LAST_VALUE(s_name)  OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest
FROM supplier ORDER BY s_suppkey
""")
def window_ntile(spark, sf_dir):
    """Global NTILE without the single-partition window (the canonical
    window scale-killer: ``Window.orderBy`` with no partitionBy funnels
    every row through one task).

    Two-pass exact global ranking instead:
      1. coarse range key = floor(s_acctbal) — monotone in the sort order,
         so (bucket DESC, s_acctbal DESC, s_suppkey) == the global order;
      2. per-bucket counts -> cumulative offsets (window over the tiny
         bucket-count aggregate, thousands of rows at most);
      3. global rn = bucket offset + partitioned row_number;
      4. NTILE arithmetic from rn and the broadcast total count.
    Every per-row window below is partitioned; only bucket aggregates pass
    through a single task."""
    s = t(spark, sf_dir, "supplier")
    bucket = F.floor("s_acctbal").alias("bucket")
    sb = s.select("s_suppkey", "s_nationkey", "s_name", "s_acctbal", bucket)

    counts = sb.groupBy("bucket").agg(F.count("*").alias("bn"))
    w_cum = (Window.orderBy(F.desc("bucket"))
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("bn").over(w_cum), F.lit(0)).alias("off"))
    total = sb.agg(F.count("*").alias("n_total"))

    w_in_bucket = Window.partitionBy("bucket").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey"))
    ranked = (sb.join(F.broadcast(offsets), "bucket")
              .crossJoin(F.broadcast(total))
              .withColumn("rn", F.col("off") + F.row_number().over(w_in_bucket)))

    # NTILE(4): first (n % 4) buckets get floor(n/4)+1 rows, the rest get
    # floor(n/4) — reproduced arithmetically from the global row number.
    n = F.col("n_total")
    base = F.floor(n / 4)
    nbig = n % 4
    cutoff = nbig * (base + 1)
    rn = F.col("rn")
    quartile = (F.when(rn <= cutoff,
                       F.floor((rn - 1) / (base + 1)) + 1)
                .otherwise(nbig + F.floor((rn - cutoff - 1) /
                                          F.greatest(base, F.lit(1))) + 1))

    w_part = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"),
                                                       F.asc("s_suppkey"))
    return (ranked.select(
                "s_suppkey", "s_nationkey",
                quartile.cast("bigint").alias("quartile"),
                F.first("s_name").over(w_part).alias("richest"),
                F.last("s_name").over(
                    w_part.rowsBetween(Window.unboundedPreceding,
                                       Window.unboundedFollowing))
                .alias("poorest"))
            .orderBy("s_suppkey"))


# ---------------------------------------------------------------------------
# sorts / limits (SURVEY §2.6): Catalyst compiles orderBy+limit to
# TakeOrderedAndProject (distributed top-k, no global sort).

@register("sort_topk", oracle="""
SELECT o_orderkey, o_totalprice AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
""")
def sort_topk(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (o.select("o_orderkey", F.col("o_totalprice").alias("price"))
            .orderBy(F.desc("price"), F.asc("o_orderkey")).limit(25))


@register("sort_multi_ordinal", oracle="""
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
FROM customer GROUP BY c_mktsegment, c_nationkey ORDER BY 1, 2
""")
def sort_ordinal(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return spark.sql(
        "SELECT c_mktsegment, c_nationkey, COUNT(*) AS n FROM {c} "
        "GROUP BY c_mktsegment, c_nationkey ORDER BY 1, 2", c=c)


# ---------------------------------------------------------------------------
# set operations (SURVEY §2.7)

@register("set_union_distinct", oracle="""
SELECT nationkey FROM (SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
UNION SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000) x ORDER BY nationkey
""")
def set_union(spark, sf_dir):
    c = (t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
         .select(F.col("c_nationkey").alias("nationkey")))
    s = (t(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 9000)
         .select(F.col("s_nationkey").alias("nationkey")))
    return c.union(s).distinct().orderBy("nationkey")


@register("set_union_all", oracle="""
SELECT nationkey, COUNT(*) AS n FROM
  (SELECT c_nationkey AS nationkey FROM customer
   UNION ALL SELECT s_nationkey AS nationkey FROM supplier) x
GROUP BY nationkey ORDER BY nationkey
""")
def set_union_all(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (c.union(s).groupBy("nationkey").agg(F.count("*").alias("n"))
            .orderBy("nationkey"))


@register("set_intersect", oracle="""
SELECT nationkey FROM (SELECT c_nationkey AS nationkey FROM customer
INTERSECT SELECT s_nationkey AS nationkey FROM supplier) x ORDER BY nationkey
""")
def set_intersect(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


@register("set_except", oracle="""
SELECT orderkey FROM (SELECT o_orderkey AS orderkey FROM orders
EXCEPT SELECT l_orderkey AS orderkey FROM lineitem) x ORDER BY orderkey
""")
def set_except(spark, sf_dir):
    """Orders with no lineitems — NON-EMPTY in this testdata (257 rows
    at sf0.01, verified), so the oracle match is carried by real rows
    (round-9 verdict item #4: the prior customer-vs-supplier nationkey
    form returned 0 rows, and Spark and DuckDB merely 'agreed' on an
    empty set)."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"))
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"))
    return o.subtract(li).orderBy("orderkey")  # EXCEPT (distinct)


# ---------------------------------------------------------------------------
# subqueries (SURVEY §2.3): scalar, correlated scalar, IN-subquery

@register("subquery_scalar", oracle="""
SELECT o_orderkey, o_totalprice AS price
FROM orders
WHERE o_totalprice > 1.8 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders)
ORDER BY o_orderkey
""")
def subquery_scalar(spark, sf_dir):
    # the threshold is an exact-sum average: a float AVG differs by ulps
    # between engines, which could flip membership of a boundary row.
    # 1.8x (not 2x): the 2x cut returned 0 rows at sf0.01 — the same
    # trivially-empty-oracle weakness round 9 fixed in set_except;
    # 1.8x keeps ~1.4k rows in the driver's value-hash
    o = t(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderkey, o_totalprice AS price
        FROM {o} WHERE o_totalprice > 1.8 * (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*) FROM {o})
        ORDER BY o_orderkey""", o=o)


@register("subquery_correlated", oracle="""
SELECT c_custkey, c_nationkey, c_acctbal AS acctbal
FROM customer c
WHERE c_acctbal > 1.5 * (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
                         FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY c_custkey
""")
def subquery_correlated(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return spark.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal AS acctbal
        FROM {c} c
        WHERE c_acctbal > 1.5 * (
            SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(*)
            FROM {c} c2 WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""", c=c)


@register("subquery_in", oracle="""
SELECT s_suppkey, s_name FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation JOIN region
                      ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
ORDER BY s_suppkey
""")
def subquery_in(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return spark.sql("""
        SELECT s_suppkey, s_name FROM {s}
        WHERE s_nationkey IN (SELECT n_nationkey FROM {n} JOIN {r}
                              ON n_regionkey = r_regionkey
                              WHERE r_name = 'EUROPE')
        ORDER BY s_suppkey""", s=s, n=n, r=r)


# ---------------------------------------------------------------------------
# table functions (SURVEY §2.8): generate_series, unnest/explode, VALUES

@register("tablefunc_generate_series", oracle="""
SELECT generate_series AS i, generate_series * generate_series AS sq
FROM generate_series(1, 100) ORDER BY i
""")
def tf_series(spark, sf_dir):
    return spark.sql("""
        SELECT CAST(i AS BIGINT) AS i, CAST(i * i AS BIGINT) AS sq
        FROM (SELECT explode(sequence(1, 100)) AS i) ORDER BY i""")


@register("tablefunc_unnest", oracle="""
SELECT vec_id, pos - 1 AS pos, ROUND(CAST(embedding[pos] AS DOUBLE), 6) AS val
FROM (SELECT vec_id, embedding,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings WHERE vec_id < 3) x
ORDER BY vec_id, pos
""")
def tf_unnest(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 3)
    return (e.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
            .select("vec_id", F.col("pos").cast("bigint").alias("pos"),
                    F.round(F.col("val").cast("double"), 6).alias("val"))
            .orderBy("vec_id", "pos"))


@register("values_inline", oracle="""
SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) AS v(id, name)
ORDER BY id
""")
def values_inline(spark, sf_dir):
    return spark.sql("""
        SELECT * FROM VALUES (1, 'one'), (2, 'two'), (3, 'three')
        AS v(id, name) ORDER BY id""")


# ---------------------------------------------------------------------------
# distinct / qualified wildcard

@register("select_distinct", oracle="""
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
ORDER BY o_orderstatus, o_orderpriority
""")
def select_distinct(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (o.select("o_orderstatus", "o_orderpriority").distinct()
            .orderBy("o_orderstatus", "o_orderpriority"))


@register("qualified_wildcard", oracle="""
SELECT n.n_nationkey AS extra_key, n.* FROM nation n
WHERE n.n_regionkey = 2 ORDER BY n.n_nationkey
""")
def qualified_wildcard(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    return spark.sql("""
        SELECT n.n_nationkey AS extra_key, n.* FROM {n} n
        WHERE n.n_regionkey = 2 ORDER BY n.n_nationkey""", n=n)
