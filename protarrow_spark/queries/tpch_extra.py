"""Extended TPC-H-shaped relational coverage (SURVEY.md §2.2).

The reference implements no relational operators (SURVEY.md §2.2 marks
every row 'Not implemented'); these queries widen the engine's query
surface with the classic decision-support shapes the first pack
(relational.py) didn't cover: EXISTS / NOT EXISTS semi-joins with
non-equi residuals, conditional (CASE) aggregation, disjunctive
multi-table predicates, HAVING over grouped joins, and
scalar-subquery-vs-aggregate comparisons.

The driver's parquet lacks partsupp / l_shipmode / l_commitdate, so
each query keeps its TPC-H *shape* while binding to the columns that
exist (tables in TESTDATA.md). Determinism: decimal-exact sums, unique
tiebreakers on every LIMIT.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from protarrow_spark.queries.registry import query
from protarrow_spark.queries.relational import DEC4, DEC6, _dsum
from protarrow_spark.sources.tables import materialize, spread, table


@query(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left-semi join with a non-equi residual.

    Scale: the semi-join shuffles both sides on l_orderkey/o_orderkey
    only; the date residual is evaluated inside the join, so lineitem
    rows never fan out. Orders' quarter filter pushes to the scan.
    """
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join + agg + top-20.

    Scale: lineitem⋈orders is the big shuffle (on the order key);
    customer joins on c_custkey after the pre-aggregation keys are
    known, nation broadcasts. TakeOrderedAndProject caps the result —
    no global sort materializes. Tiebreaker c_custkey is unique, so
    the LIMIT is deterministic.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_dsum(rev, DEC6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q12_priority_lines",
    oracle="""
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
""",
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE) aggregation.

    (No l_shipmode column in the driver's lineitem; l_linestatus keys
    the groups instead.) Scale: one shuffle join on the order key; the
    CASE branches fold into the partial aggregate map-side, so the
    final shuffle carries 2 groups x 2 counters.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))
             ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
       AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
GROUP BY ()
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: join + ratio of conditional aggregates.

    Scale: the month filter cuts lineitem ~1/80 at the scan; part is
    sf-proportional, so no forced broadcast — AQE picks broadcast only
    while the filtered build side is genuinely small. Both sums are
    decimal-exact, so the final double ratio is partition-invariant.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC6)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC6))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct")
    )


@query(
    "q15_top_supplier",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate CTE + scalar-subquery max filter.

    Scale: the revenue aggregate shuffles once on l_suppkey and is
    materialized once (``materialize`` — exchange reuse does not fire
    across the max-broadcast join under AQE, so without it lineitem
    would be scanned and aggregated twice). The max comparison happens
    on the exact decimal, never the rounded double.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = table(spark, sf_dir, "supplier")
    rev = materialize(
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC6)
            ).alias("total_rev")
        )
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


@query(
    "q18_large_orders",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(27,4))) > 90
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-HAVING over a join + top-100.

    Scale: aggregate lineitem by l_orderkey FIRST (one shuffle on the
    uniform order key, HAVING prunes to the rare large orders), then
    join the tiny survivor set to orders/customer — the classic
    agg-before-join rewrite so customer never sees the full lineitem.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC4)).alias("qty_dec"))
        .filter(F.col("qty_dec") > 90)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
         AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: join with OR-of-ANDs multi-table predicate.

    Scale: Catalyst extracts the common single-table conjuncts
    (p_brand IN (...), l_quantity <= 30) as pushdown filters ahead of
    the join; the residual disjunction evaluates post-join in codegen.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#33")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return j.filter(clause).agg(_dsum(rev, DEC6).alias("revenue"))


@query(
    "q22_dormant_balance",
    oracle="""
WITH cutoff AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS totacctbal
FROM customer, cutoff
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-09-01'
  )
GROUP BY c_nationkey
""",
)
def q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-average cutoff + NOT EXISTS anti-join.

    ("Dormant" = no orders since 2000-09-01 — the synthetic corpus has
    no order-less customers, so the anti-join is date-bounded to keep
    the result non-empty.) Scale: the average is a 1-row broadcast; the
    anti-join shuffles on the customer key only (orders pruned by the
    pushed date filter, projected to o_custkey). The decimal sum then
    divides once in double, so the cutoff is exact and the filter is
    partition-invariant.
    """
    cust = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-09-01")
        .select("o_custkey")
    )
    cutoff = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(DEC4)).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        )
    )
    return (
        cust.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC4)).cast("double").alias("totacctbal"),
        )
    )


@query(
    "q7_nation_volume",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l_shipdate)
""",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bi-directional nation-pair trade volume by year.

    Scale: nation broadcasts twice (fixed-size dim); the lineitem ⋈
    orders shuffle on the order key dominates and happens once;
    supplier/customer join after their nation filters prune them, so
    AQE can broadcast the filtered sides. Decimal-exact revenue.
    """
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year")
        )
        .agg(_dsum(rev, DEC6).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle="""
WITH vol AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)) AS rev,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = cn.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
)
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
                          ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
            / CAST(SUM(rev) AS DOUBLE) AS DOUBLE) AS mkt_share
FROM vol
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of a region's PROMO
    volume, by order year.

    Scale: a 7-table join tree — the two fixed dims (nation, region)
    broadcast; part's type filter prunes before its join; the two big
    shuffles (lineitem ⋈ orders on the order key, then ⋈ customer on
    the customer key) are unavoidable and keyed uniformly. The share
    is a ratio of two decimal-exact sums per group.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    sn = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC6)
    vol = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(region), F.col("crk") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev.alias("rev"),
            "supp_nation",
        )
    )
    nation_rev = F.when(F.col("supp_nation") == "NATION_3", F.col("rev")).otherwise(
        F.lit(0).cast(DEC6)
    )
    return vol.groupBy("o_year").agg(
        (F.sum(nation_rev).cast("double") / F.sum("rev").cast("double"))
        .cast("double")
        .alias("mkt_share")
    )


@query(
    "q11_important_parts",
    oracle="""
WITH val AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS v
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  WHERE s_nationkey = 5
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
FROM val
WHERE CAST(v AS DOUBLE) > 0.001 * (SELECT CAST(SUM(v) AS DOUBLE) FROM val)
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose value (from one nation's
    suppliers) exceeds a fraction of the total — aggregate reused by
    a scalar subquery over itself.

    Scale: the per-part aggregate shuffles once on l_partkey and is
    materialized once (``materialize`` — plan-identical exchange
    reuse does NOT fire across the crossJoin under AQE, so without it
    lineitem would be scanned and aggregated twice); the grand total
    is then a 1-row broadcast crossed back. Threshold compares exact
    decimal sums cast to double identically on both engines.
    """
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 5).select("s_suppkey")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(DEC6)
    val = materialize(
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(rev).alias("v"))
    )
    total = val.agg((F.sum("v").cast("double") * F.lit(0.001)).alias("cutoff"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double") > F.col("cutoff"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


@query(
    "q13_order_distribution",
    oracle="""
WITH co AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM co
GROUP BY c_count
""",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count histogram via a left
    outer join with a join-time predicate (NOT a post-filter: the
    predicate must not drop order-less customers).

    Scale: the left join shuffles on the customer key; COUNT(o_orderkey)
    counts only matched rows (null for the unmatched), and the second
    aggregation is over one row per customer — trivially small.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    co = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q16_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute,
    excluding a supplier blacklist (NOT IN -> anti-join).

    Scale: part's attribute filters prune at the scan; the blacklist
    is a tiny aggregate side that broadcasts for the anti-join; the
    count-distinct expands to (brand,type,size,suppkey) partial
    dedup map-side before the final shuffle.
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
WITH pa AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_sum,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE) / 7.0
       AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa ON pa.pk = l_partkey
WHERE p_brand = 'Brand#3'
  AND CAST(l_quantity AS DECIMAL(18,4)) * 5 * n < qty_sum
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-20%-of-average-quantity
    line items of one brand (correlated per-part average).

    The threshold l_quantity < 0.2 * avg rewrites to the division-free
    5 * n * l_quantity < sum so both engines compare EXACT decimals —
    a double average would make borderline rows engine-dependent.
    Scale: the per-part aggregate shuffles on the part key once and
    joins back; the brand filter prunes the probe side first.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    qdec = F.col("l_quantity").cast("decimal(18,4)")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qdec).alias("qty_sum"), F.count(F.lit(1)).alias("n")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(pa, F.col("l_partkey") == F.col("pk"))
        .filter(qdec * F.lit(5) * F.col("n") < F.col("qty_sum"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC6)).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "q20_promo_part_suppliers",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 50
)
""",
)
def q20_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved bulk volume of PROMO parts
    in a year — IN over a grouped-HAVING subquery (semi-join).

    Scale: the inner aggregate shuffles on (suppkey, partkey) after
    scan-level date + part-type pruning; the HAVING survivor set is
    tiny, so the outer semi-join broadcasts it. Decimal quantity sum
    keeps the HAVING threshold exact.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    supp = table(spark, sf_dir, "supplier")
    bulk = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return supp.join(bulk, supp.s_suppkey == bulk.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
WITH lates AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
),
multi AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2
),
solo AS (
  SELECT l_orderkey, MIN(l_suppkey) AS culprit
  FROM lates GROUP BY l_orderkey HAVING COUNT(*) = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM solo
JOIN multi USING (l_orderkey)
JOIN supplier ON s_suppkey = culprit
GROUP BY s_name
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier per multi-supplier
    order (EXISTS + NOT-EXISTS pair, rewritten as two aggregates —
    'some other supplier in the order' and 'no other LATE supplier').

    (No l_commitdate/l_receiptdate in the driver's lineitem; 'late' =
    shipped >60 days after the order date.) Scale: all three legs key
    on l_orderkey, so one shuffle partitioning serves the late-pair
    dedup, the multi-supplier count, and the solo-late reduction; the
    final supplier join is over the tiny culprit set.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = table(spark, sf_dir, "supplier")
    lates = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select("l_orderkey")
    )
    solo = (
        lates.groupBy("l_orderkey")
        .agg(F.min("l_suppkey").alias("culprit"), F.count(F.lit(1)).alias("nl"))
        .filter(F.col("nl") == 1)
        .select("l_orderkey", "culprit")
    )
    return (
        solo.join(multi, "l_orderkey")
        .join(supp, F.col("culprit") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
WITH supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
c AS (
  SELECT s.partkey, s.suppkey, s.unit_cost, e.s_name, e.s_acctbal, e.n_name,
         MIN(s.unit_cost) OVER (PARTITION BY s.partkey) AS min_cost
  FROM supply s JOIN eu e ON s.suppkey = e.s_suppkey
)
SELECT c.partkey AS p_partkey, p.p_brand, c.suppkey AS s_suppkey,
       c.s_name, c.s_acctbal, c.n_name, c.unit_cost
FROM c JOIN part p ON c.partkey = p.p_partkey
WHERE c.unit_cost = c.min_cost AND p.p_size >= 40
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier in a region, correlated MIN
    subquery) bound to the driver's columns: the part<->supplier
    relation and unit cost come from observed lineitem shipments
    (MIN(l_extendedprice / l_quantity) per pair — the data's own
    partsupp), and the correlated `cost = (SELECT MIN ...)` predicate
    is decorrelated into a per-part window minimum, the standard
    rewrite every planner applies.

    Scale: the supply aggregation shuffles once on (part, supp);
    nation/region force-broadcast (fixed size); supplier joins via
    AQE choice; the window min re-partitions only (part) — no
    correlated per-row subquery execution anywhere. Ties on the exact
    min share identical float division results on both engines, so
    emitting all tied suppliers is deterministic without a LIMIT.
    """
    # spread: the (part, supp) partial aggregate is high-cardinality
    # hash-table work; a single-row-group local scan would run it on
    # one core (no-op on wide scans at scale).
    part = table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    # Push the part predicate BELOW the per-part window min: window
    # partitions are whole partkeys, so semi-joining the filtered key
    # set into lineitem first is result-identical while shrinking the
    # supply aggregate and the window input by the filter's
    # selectivity (~an order of magnitude here). The filtered part
    # dimension broadcasts (dim-table sized at any SF).
    pk = part.select(F.col("p_partkey").alias("partkey"))
    li = spread(table(spark, sf_dir, "lineitem")).join(
        F.broadcast(pk), F.col("l_partkey") == F.col("partkey"), "semi"
    )
    supply = (
        li.groupBy(
            F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    c = supply.join(eu, supply.suppkey == eu.s_suppkey).select(
        "partkey", "suppkey", "unit_cost", "s_name", "s_acctbal", "n_name"
    )
    w = Window.partitionBy("partkey")
    c = c.withColumn("min_cost", F.min("unit_cost").over(w))
    return (
        c.filter(F.col("unit_cost") == F.col("min_cost"))
        .join(part, F.col("partkey") == part.p_partkey)
        .select(
            F.col("partkey").alias("p_partkey"),
            "p_brand",
            F.col("suppkey").alias("s_suppkey"),
            "s_name",
            "s_acctbal",
            "n_name",
            "unit_cost",
        )
    )


@query(
    "q9_product_profit",
    oracle="""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1 AS DECIMAL(27,6)))
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_type = 'ECONOMY'
GROUP BY n_name, year(o_orderdate)
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): a
    5-table join tree with the profit expression aggregated per
    (nation, order-year). The driver's schema has no ps_supplycost,
    so cost binds to ``p_retailprice * quantity * 0.1`` — same
    expression shape, existing columns.

    Scale: part/supplier filter-then-join via AQE; nation broadcasts;
    the two big joins (lineitem<->part on partkey, <->orders on
    orderkey) shuffle on uniformly distributed keys; decimal-exact
    profit sums keep the result partition-order invariant.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_dsum(profit, DEC6).alias("sum_profit"))
    )
