"""Remaining TPC-H query adaptations (q2/q6/q8/q9/q13/q15/q16/q17/q20/q22).

Completes the TPC-H sweep started in relational.py/relational2.py
(q1/q3/q4/q5/q7/q10/q12/q14/q18/q19): every query shape is adapted to the
columns the testdata actually has — there is no ``partsupp`` table, no
``l_receiptdate``/``l_commitdate``, and no ``c_phone``, so
  * q2/q16/q20 use ``lineitem`` as the part↔supplier link,
  * q9's supply cost is proxied by ``p_retailprice``,
  * q22's country code is proxied by the customer nation key,
  * q11 and q21 are NOT adaptable (pure partsupp / receiptdate queries)
    and are intentionally absent.
The point of each adaptation is the reference query's STRUCTURE
(correlated aggregates, nested IN, NOT EXISTS + scalar subquery, argmax
join-back), not its exact business predicate.

Scale notes: part/supplier/nation/region are broadcast dims everywhere;
lineitem/orders only ever shuffle on their join/group keys; correlated
aggregate subqueries are expressed as join-backs against a grouped
aggregate of the SAME scan (Catalyst de-correlates them into one pass).

Hash-safe output conventions per queries/__init__.py: exact decimal sums
cast to double at the end, BIGINT counts, INT years, no Decimal/timestamp
output columns.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_postgres_spark.queries import register, t

# exact decimal revenue term shared by most queries (matches relational2.py)
_REV_SQL = ("CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))")


def _rev():
    # Built lazily: module import must not require an active SparkContext
    # (the driver may call queries()/oracle_sql() before creating a session).
    return (F.col("l_extendedprice").cast("decimal(12,2)") *
            (1 - F.col("l_discount").cast("decimal(4,2)")))


@register("q6_forecast_revenue", oracle=f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
               CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""")
def q6(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-agg — the predicate pushes down to the
    parquet scan whole (no join, no shuffle beyond the final 1-row agg)."""
    li = t(spark, sf_dir, "lineitem")
    disc_rev = (F.col("l_extendedprice").cast("decimal(12,2)") *
                F.col("l_discount").cast("decimal(4,2)"))
    return (li.where(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz")) &
                (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz")) &
                F.col("l_discount").between(0.05, 0.07) &
                (F.col("l_quantity") < 24))
            .agg(F.sum(disc_rev).cast("double").alias("revenue"),
                 F.count("*").alias("n")))


@register("q2_min_cost_supplier", oracle=f"""
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) /
             CAST(CAST(l_quantity AS DECIMAL(9,2)) AS DOUBLE)) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
best AS (
  SELECT l_partkey, MIN(unit_price) AS best_price FROM unit
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
  GROUP BY l_partkey
)
SELECT s_name, n_name, p_partkey, p_name,
       CAST(s_acctbal AS DOUBLE) AS s_acctbal, u.unit_price
FROM unit u
JOIN best ON u.l_partkey = best.l_partkey AND u.unit_price = best.best_price
JOIN part ON u.l_partkey = p_partkey AND p_size BETWEEN 1 AND 25
JOIN supplier ON u.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
""")
def q2(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier): correlated MIN subquery expressed
    as a grouped aggregate joined back to itself — the per-(part,supplier)
    unit-price aggregate is computed ONCE and reused for both the candidate
    rows and the per-part minimum (no partsupp table; lineitem is the
    part↔supplier link). Unit price = ONE double division of exact
    decimals (engines disagree on decimal-division result scale, but IEEE
    division of identical inputs is bit-identical — and so are the MINs
    and the equality join on them)."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    p = t(spark, sf_dir, "part")

    unit = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)")
                       .cast("double") /
                       F.col("l_quantity").cast("decimal(9,2)")
                       .cast("double"))
                 .alias("unit_price")))
    eur_supp = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
                .join(F.broadcast(r.where(F.col("r_name") == "EUROPE")),
                      F.col("n_regionkey") == F.col("r_regionkey")))
    # eur_supp (supplier/5) and the size-filtered part are SF-proportional
    # — no forced broadcast hints; AQE broadcasts them when measured-small
    unit_eur = unit.join(eur_supp.select("s_suppkey"),
                         unit.l_suppkey == F.col("s_suppkey")).drop("s_suppkey")
    best = (unit_eur.groupBy("l_partkey")
            .agg(F.min("unit_price").alias("best_price")))
    return (unit_eur
            .join(best, (unit_eur.l_partkey == best.l_partkey) &
                        (unit_eur.unit_price == best.best_price))
            .drop(best.l_partkey)
            .join(p.where(F.col("p_size").between(1, 25)),
                  F.col("l_partkey") == p.p_partkey)
            .join(eur_supp.select("s_suppkey", "s_name", "s_acctbal",
                                  "n_name"),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_name", "n_name", "p_partkey", "p_name",
                    F.col("s_acctbal").cast("double").alias("s_acctbal"),
                    "unit_price")
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


@register("q8_market_share", oracle=f"""
SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_REV_SQL}
                ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE) /
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1 ORDER BY 1
""")
def q8(spark, sf_dir):
    """TPC-H Q8 (national market share): nation joined twice under
    different roles (customer side filters the region, supplier side feeds
    the CASE numerator). Exact decimal sums; ONE double division.

    ONE spark.sql parse (round-10 batch 5). Broadcast hints ONLY on bounded tables (nation=25,
    region=5 rows), riding in on the parameter DataFrames
    (F.broadcast → ResolvedHint); customer/supplier grow linearly with
    SF — AQE broadcasts them by MEASUREMENT when small (round-3 verdict
    item #2)."""
    n = t(spark, sf_dir, "nation")
    return spark.sql(f"""
        SELECT year(o_orderdate) AS o_year,
               CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_REV_SQL}
                        ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE) /
               CAST(SUM({_REV_SQL}) AS DOUBLE) AS mkt_share
        FROM {{li}}
        JOIN {{o}} ON l_orderkey = o_orderkey
        JOIN {{c}} ON o_custkey = c_custkey
        JOIN {{n1}} n1 ON c_nationkey = n1.n_nationkey
        JOIN {{r}} ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        JOIN {{s}} ON l_suppkey = s_suppkey
        JOIN {{n2}} n2 ON s_nationkey = n2.n_nationkey
        WHERE o_orderdate >= CAST('1995-01-01' AS TIMESTAMP_NTZ)
          AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP_NTZ)
        GROUP BY year(o_orderdate) ORDER BY o_year""",
        li=t(spark, sf_dir, "lineitem"), o=t(spark, sf_dir, "orders"),
        c=t(spark, sf_dir, "customer"), s=t(spark, sf_dir, "supplier"),
        n1=F.broadcast(n), n2=F.broadcast(n),
        r=F.broadcast(t(spark, sf_dir, "region")))


@register("q9_product_profit", oracle=f"""
SELECT n_name AS nation,
       CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM({_REV_SQL} -
                CAST(p_retailprice AS DECIMAL(12,2)) *
                CAST(l_quantity AS DECIMAL(9,2)) * CAST(0.1 AS DECIMAL(3,1)))
            AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY 1, 2 DESC
""")
def q9(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation×year): supply cost
    proxied by 10% of retail price × quantity (no partsupp table). The
    LIKE filter prunes part before the fact join.

    ONE spark.sql parse (round-10 batch 5). nation is the only forced broadcast (25 rows,
    SF-invariant, hint on the parameter DataFrame); the LIKE-filtered
    part and supplier are SF-proportional — AQE decides (scale-safe)."""
    return spark.sql(f"""
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               CAST(SUM({_REV_SQL} -
                        CAST(p_retailprice AS DECIMAL(12,2)) *
                        CAST(l_quantity AS DECIMAL(9,2)) *
                        CAST(0.1 AS DECIMAL(3,1))) AS DOUBLE) AS profit
        FROM {{li}}
        JOIN {{p}} ON l_partkey = p_partkey AND p_name LIKE '%gear%'
        JOIN {{s}} ON l_suppkey = s_suppkey
        JOIN {{n}} ON s_nationkey = n_nationkey
        JOIN {{o}} ON l_orderkey = o_orderkey
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year DESC""",
        li=t(spark, sf_dir, "lineitem"), p=t(spark, sf_dir, "part"),
        s=t(spark, sf_dir, "supplier"),
        n=F.broadcast(t(spark, sf_dir, "nation")),
        o=t(spark, sf_dir, "orders"))


@register("q13_order_distribution", oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""")
def q13(spark, sf_dir):
    """TPC-H Q13 (customer order distribution): LEFT JOIN with an extra
    join-side predicate, two stacked aggregations. COUNT(col) (not *)
    so customers with no orders count 0."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").cast("bigint").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


@register("q15_top_supplier", oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
""")
def q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): scalar MAX subquery over a derived
    aggregate — the revenue aggregate is computed once and reused for both
    the max and the final join (comparing the EXACT decimal, only the
    output casts to double)."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz")) &
        (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz")))
    s = t(spark, sf_dir, "supplier")
    revenue = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.sum(_rev()).alias("total_rev")))
    best = revenue.agg(F.max("total_rev").alias("best_rev"))
    return (revenue.join(F.broadcast(best),
                         F.col("total_rev") == F.col("best_rev"))
            .join(s, F.col("supplier_no") == s.s_suppkey)
            .select("s_suppkey", "s_name",
                    F.col("total_rev").cast("double").alias("total_revenue"))
            .orderBy("s_suppkey"))


@register("q16_supplier_part_count", oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier counts by part attrs): NOT IN
    anti-join against a filtered supplier set (complaint-comment filter
    proxied by negative acctbal; lineitem is the part↔supplier link)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO") &
        F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    bad = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0) \
        .select("s_suppkey")
    # p and bad are SF-proportional filters — unhinted, AQE decides
    return (li.join(p, li.l_partkey == p.p_partkey)
            .join(bad, li.l_suppkey == F.col("s_suppkey"), "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").cast("bigint")
                 .alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))


@register("q17_small_quantity_revenue", oracle="""
WITH avg_qty AS (
  SELECT l_partkey AS ap, AVG(CAST(l_quantity AS DECIMAL(9,2))) AS aq
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#3'
JOIN avg_qty ON l_partkey = ap
WHERE CAST(l_quantity AS DECIMAL(9,2)) < 0.2 * aq
""")
def q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity orders): correlated AVG subquery as a
    grouped aggregate of the same lineitem scan joined back (Catalyst
    plans one shuffle on l_partkey reused by both sides). The 0.2*avg
    comparison stays in exact decimal arithmetic."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    avg_qty = (li.groupBy(F.col("l_partkey").alias("ap"))
               .agg(F.avg(F.col("l_quantity").cast("decimal(9,2)"))
                    .alias("aq")))
    return (li.join(p, li.l_partkey == p.p_partkey)
            .join(avg_qty, li.l_partkey == F.col("ap"))
            .where(F.col("l_quantity").cast("decimal(9,2)") <
                   0.2 * F.col("aq"))
            .agg((F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                  .cast("double") / 7.0).alias("avg_yearly"),
                 F.count("*").alias("n")))


@register("q20_excess_shippers", oracle="""
WITH red_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
),
shipped AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(9,2))) AS qty
  FROM lineitem JOIN red_parts ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
),
totals AS (
  SELECT l_partkey AS tp, SUM(qty) AS total_qty FROM shipped GROUP BY l_partkey
)
SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM shipped JOIN totals ON l_partkey = tp
  WHERE qty > 0.3 * total_qty)
ORDER BY s_name
""")
def q20(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with excess stock): nested IN subquery
    whose inner filter compares a per-(supplier,part) aggregate against a
    correlated per-part total — both computed from one grouped scan,
    joined back (no partsupp; availqty proxied by shipped quantity)."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz")) &
        (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
    p = t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    s = t(spark, sf_dir, "supplier")
    shipped = (li.join(p.select("p_partkey"),
                       li.l_partkey == F.col("p_partkey"))
               .groupBy("l_suppkey", "l_partkey")
               .agg(F.sum(F.col("l_quantity").cast("decimal(9,2)"))
                    .alias("qty")))
    totals = (shipped.groupBy(F.col("l_partkey").alias("tp"))
              .agg(F.sum("qty").alias("total_qty")))
    excess = (shipped.join(totals, shipped.l_partkey == F.col("tp"))
              .where(F.col("qty") > 0.3 * F.col("total_qty"))
              .select("l_suppkey").distinct())
    return (s.join(excess, s.s_suppkey == F.col("l_suppkey"), "left_semi")
            .select("s_name", F.col("s_acctbal").cast("double")
                    .alias("s_acctbal"))
            .orderBy("s_name"))


@register("q22_dormant_customers", oracle="""
WITH avg_bal AS (
  SELECT AVG(CAST(c_acctbal AS DECIMAL(12,2))) AS ab
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey % 5 AS cntry_bucket,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE CAST(c_acctbal AS DECIMAL(12,2)) > ab
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY 1 ORDER BY 1
""")
def q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): scalar AVG subquery +
    NOT EXISTS anti-join (country code proxied by nation-key bucket,
    'no orders in 7 years' by 'no URGENT orders' — every testdata customer
    has some order; no c_phone column). The exact-decimal average is
    compared exactly."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    avg_bal = (c.where(F.col("c_acctbal") > 0.0)
               .agg(F.avg(bal).alias("ab")))
    return (c.crossJoin(F.broadcast(avg_bal))
            .where(bal > F.col("ab"))
            .join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy((F.col("c_nationkey") % 5).alias("cntry_bucket"))
            .agg(F.count("*").alias("numcust"),
                 F.sum(bal).cast("double").alias("totacctbal"))
            .orderBy("cntry_bucket"))


@register("q21_suppliers_kept_waiting", oracle="""
WITH flagged AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CAST(l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS INT)
           AS is_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'),
per_supp AS (
  SELECT l_orderkey, l_suppkey, MAX(is_late) AS supp_late
  FROM flagged GROUP BY l_orderkey, l_suppkey),
ord AS (
  SELECT l_orderkey,
         COUNT(*) AS n_supps,
         SUM(supp_late) AS n_late
  FROM per_supp GROUP BY l_orderkey)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_supp p
JOIN ord USING (l_orderkey)
JOIN supplier s ON s.s_suppkey = p.l_suppkey
WHERE p.supp_late = 1 AND ord.n_supps > 1 AND ord.n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""")
def q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): for finished
    orders, the suppliers who were the ONLY late supplier in a
    multi-supplier order. The EXISTS / NOT EXISTS pair of the original
    collapses into per-(order, supplier) late flags + one per-order
    rollup (n_supps > 1, n_late = 1) — two aggregations sharing the
    l_orderkey shuffle instead of two correlated self-joins, the plan
    you want when lineitem is the 100 TB side. Lateness proxy:
    l_shipdate > o_orderdate + 90 days (no l_receiptdate/l_commitdate in
    this dataset — same convention as q4). cite:
    tests-integration queries replayed by the reference
    (datafusion-postgres/tests-integration)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = t(spark, sf_dir, "supplier")
    flagged = (li.join(o, li.l_orderkey == o.o_orderkey)
               .select(li.l_orderkey.alias("ok"), "l_suppkey",
                       (F.col("l_shipdate") >
                        F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
                       .cast("int").alias("is_late")))
    per_supp = (flagged.groupBy("ok", "l_suppkey")
                .agg(F.max("is_late").alias("supp_late")))
    ord_ = (per_supp.groupBy(F.col("ok").alias("ok2"))
            .agg(F.count("*").alias("n_supps"),
                 F.sum("supp_late").alias("n_late")))
    return (per_supp.join(ord_, F.col("ok") == F.col("ok2"))
            .where((F.col("supp_late") == 1) & (F.col("n_supps") > 1) &
                   (F.col("n_late") == 1))
            .join(s, per_supp.l_suppkey == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.count("*").cast("bigint").alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name"))
            .limit(20))
