"""TPC-H query shapes (``rel_qN_*``) over the driver's TPC-H fixtures,
each oracle-paired with the same statement in DuckDB; money aggregates
go through DECIMAL on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register, table


# ---------------------------------------------------------------------------
# Relational / star-schema (exercises joins, aggs, windows, rollup, set ops)
@register(
    "rel_q1_pricing",
    """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(24,8))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
)
def rel_q1_pricing(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    dec_qty = F.col("l_quantity").cast("decimal(18,2)")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,8)"
    )
    charge = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    ).cast("decimal(24,8)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec_qty).cast("double").alias("sum_qty"),
        F.sum(dec_price).cast("double").alias("sum_base_price"),
        F.sum(disc).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(dec_qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "rel_q3_shipping",
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def rel_q3_shipping(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,8)"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "rel_q5_region_revenue",
    """SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name""",
)
def rel_q5_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    supp = table(spark, sf, "supplier")
    nation = table(spark, sf, "nation")
    region = table(spark, sf, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,8)"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# TPC-H Q10 shape — returned-items revenue per customer (broadcast dim
# joins, pushed-down returnflag + orderdate range, decimal-exact money).
@register(
    "rel_q10_returned",
    """SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def rel_q10_returned(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    nat = table(spark, sf, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,8)"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# TPC-H Q14 shape — promo revenue share over a shipdate year: part is
# broadcast (first catalog use of the part table), both sums decimal-
# exact, the final ratio computed identically in double on both engines.
@register(
    "rel_q14_promo_share",
    """SELECT
  CAST(sum(CASE WHEN p_type = 'PROMO'
       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))
       ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE) * 100.0
  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE)
    AS promo_pct,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'""",
)
def rel_q14_promo_share(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    part = table(spark, sf, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,8)"
    )
    zero = F.lit(0).cast("decimal(24,8)")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast(
                "double"
            )
            * 100.0
            / F.sum(rev).cast("double")
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape — order-priority counts for orders with at least one
# LATE lineitem (EXISTS → left-semi join). Fixture adaptation: "late" =
# shipped more than 30 days after the order date (no commit/receipt
# dates in the fixture). The semi-join mixes an equi key with a range
# predicate — Spark executes it as a broadcast/sort-merge semi join with
# the range as a join residual, never materializing the EXISTS subquery.
@register(
    "rel_q4_priority",
    """SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority""",
)
def rel_q4_priority(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape — two-level CASE aggregation: per returnflag, how many
# shipped items belong to high- vs low-priority orders (fixture has no
# l_shipmode; returnflag carries the grouping role).
@register(
    "rel_q12_priority_class",
    """SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_returnflag""",
)
def rel_q12_priority_class(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape — large-volume orders: group-by-HAVING subquery join
# (quantity sums decimal-exact). The HAVING side is computed once and
# joined back; at scale it is the smaller side and broadcasts.
@register(
    "rel_q18_large_orders",
    """WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
SELECT c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(sum_qty AS DOUBLE) AS sum_qty
FROM big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def rel_q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape — disjunctive (OR-of-ANDs) predicate over a part join.
# The point of this shape: Catalyst pushes the common l_quantity bounds
# and the p_brand IN-list into the scans while keeping the residual OR
# as a join filter — check docs/PLANS.md for the pushed-filter audit.
@register(
    "rel_q19_disjunctive",
    """SELECT
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))) AS DOUBLE)
    AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
       AND l_quantity BETWEEN 20 AND 30)""",
)
def rel_q19_disjunctive(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 50) & q.between(20, 30))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,8)"
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(pred)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape — anti-join + scalar aggregate subquery: customers with
# above-average balance and NO orders since the cutoff ("wealthy but
# inactive"). Fixture adaptation: every customer has historical orders,
# so the anti-join is against RECENT orders only. The average goes
# through a decimal sum (order-insensitive) and the anti-join is a
# broadcast of the grouped recent-customer keys at fixture scale.
@register(
    "rel_q22_inactive",
    """WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS a
  FROM customer WHERE c_acctbal > 0.0),
recent AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2001-01-01')
SELECT c_nationkey,
       count(*) AS n_custs,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT a FROM avg_bal)
  AND NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
GROUP BY c_nationkey""",
)
def rel_q22_inactive(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer")
    # scalar subquery as a broadcast 1-row cross join — stays lazy and
    # fully planned (no driver-side collect of the average)
    avg_df = cust.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg_bal")
    )
    recent = (
        table(spark, sf, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_df))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape — the forecasting-revenue filter-aggregate: no join at
# all, the whole query is scan-side predicate pushdown + one partial-
# final agg. The PLANS.md entry shows every predicate reaching the
# parquet scan.
@register(
    "rel_q6_revenue_delta",
    """SELECT
  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(24,8))) AS DOUBLE)
    AS revenue_delta,
  count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0""",
)
def rel_q6_revenue_delta(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(24,8)"
                )
            )
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_REV_DECIMAL = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8))"


def _rev():
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(24,8)"
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape — customer order-count distribution via LEFT OUTER
# JOIN with an ON-clause filter (customers with zero qualifying orders
# must appear with c_count = 0; a WHERE filter would drop them, which is
# exactly the subtlety Q13 tests). Fixture adaptation: the reference
# filters o_comment NOT LIKE '%special%requests%'; the fixture has no
# comment column, so the ON-filter role is played by excluding URGENT
# orders. Scale: the outer join shuffles on custkey (uniform), the
# second aggregation is tiny (distinct order counts).
@register(
    "rel_q13_custdist",
    """SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) c_orders
GROUP BY c_count""",
)
def rel_q13_custdist(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer").select("c_custkey")
    orders = table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q21 shape — "suppliers who kept orders waiting": for finished
# orders, the supplier whose line shipped late, where at least one OTHER
# supplier contributed a line to the same order (EXISTS → left-semi) and
# NO other supplier was also late (NOT EXISTS → left-anti). Fixture
# adaptation: "late" = l_shipdate > o_orderdate + 60 days (no
# commit/receipt dates). Both the semi and the anti join carry a
# non-equi residual (suppkey inequality; the anti also the lateness
# range) on top of the l_orderkey equi key — the two join shapes nothing
# else in the catalog covers. Scale: all three lineitem legs shuffle on
# l_orderkey (uniform); supplier/nation are broadcast-size.
@register(
    "rel_q21_waiting",
    """SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND n_nationkey = s_nationkey
  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name""",
)
def rel_q21_waiting(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = table(spark, sf, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
        F.col("l_shipdate").alias("x_shipdate"),
    )
    # EXISTS: some other supplier on the same order
    l1 = l1.join(
        l2,
        (F.col("x_orderkey") == F.col("l_orderkey"))
        & (F.col("x_suppkey") != F.col("l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no other supplier was ALSO late on that order
    l1 = l1.join(
        l2,
        (F.col("x_orderkey") == F.col("l_orderkey"))
        & (F.col("x_suppkey") != F.col("l_suppkey"))
        & (F.col("x_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = table(spark, sf, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    return (
        l1.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape — correlated scalar-min subquery: parts priced at the
# minimum retail price of their size class. Fixture adaptation: no
# partsupp, so the correlation runs over part itself (p_size plays the
# region role, p_retailprice the supplycost role). Spark realizes the
# correlated min as a tiny groupBy (≤50 size classes) broadcast-joined
# back — the decorrelation Catalyst would pick for the SQL form.
@register(
    "rel_q2_min_price",
    """SELECT p_partkey, p_name, p_brand,
       CAST(p_size AS BIGINT) AS p_size,
       CAST(p_retailprice AS DOUBLE) AS p_retailprice
FROM part p
WHERE p_retailprice = (
  SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_size = p.p_size)""",
)
def rel_q2_min_price(spark: SparkSession, sf: str) -> DataFrame:
    part = table(spark, sf, "part")
    mins = part.groupBy(F.col("p_size").alias("m_size")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        part.join(
            F.broadcast(mins),
            (F.col("p_size") == F.col("m_size"))
            & (F.col("p_retailprice") == F.col("min_price")),
        )
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            F.col("p_size").cast("long").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape — volume shipping between two nation pairs: the nation
# table joins TWICE under different roles (supplier nation / customer
# nation) with a symmetric pair predicate, grouped by both nations and
# ship year. Scale: both nation legs broadcast; the big three-way
# lineitem⋈orders⋈customer shuffles on its equi keys.
@register(
    "rel_q7_volume",
    f"""SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         {_REV_DECIMAL} AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_9')
      OR (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_2'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01') shipping
GROUP BY supp_nation, cust_nation, l_year""",
)
def rel_q7_volume(spark: SparkSession, sf: str) -> DataFrame:
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n1 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_9")
    ) | (
        (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_2")
    )
    return (
        supp.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape — national market share: the fraction of regional
# revenue supplied by one nation, per order year. Two nation roles
# (customer region membership / supplier nationality) + a conditional
# share ratio. DECIMAL sums keep both engines exact; the final division
# is double-over-double of identical values, so bit-stable.
@register(
    "rel_q8_market_share",
    f"""SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(24,8)) END) AS DOUBLE)
         / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         {_REV_DECIMAL} AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN part ON p_partkey = l_partkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY') all_nations
GROUP BY o_year""",
)
def rel_q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    cn = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    region = table(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    sn = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    part = table(spark, sf, "part").where(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    vol = _rev()
    national = F.when(
        F.col("supp_nation") == "NATION_3", vol
    ).otherwise(F.lit(0).cast("decimal(24,8)"))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(national).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape — product-type profit by supplier nation and year, with
# a substring part filter. Fixture adaptation: profit = revenue minus a
# retail-price cost proxy (p_retailprice * l_quantity * 0.1 — no
# partsupp supplycost); p_name LIKE '%red%' mirrors the reference's
# color filter. The per-row profit expression is evaluated in DOUBLE
# with identical association on both engines, then DECIMAL-cast so the
# sum is order-free.
@register(
    "rel_q9_profit",
    """SELECT n_name AS nation, o_year,
       CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount)
              - p_retailprice * l_quantity * 0.1 AS DECIMAL(24,8)) AS amount
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%red%') profit
GROUP BY n_name, o_year""",
)
def rel_q9_profit(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part").where(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf, "nation").select("n_nationkey", "n_name")
    orders = table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    ).cast("decimal(24,8)")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape — top supplier(s) by quarterly revenue: an aggregated
# CTE consumed twice, once as the join input and once reduced to a
# scalar max the selection compares against. The Spark side mirrors
# Catalyst's decorrelation: the 1-row max broadcasts as a lazy cross
# join (the rel_q22 pattern — no driver-side collect), and the equality
# compares DECIMALs, so ties are exact on both engines.
@register(
    "rel_q15_top_supplier",
    f"""WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum({_REV_DECIMAL}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""",
)
def rel_q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx))  # 1-row broadcast cross join
        .where(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape — small-quantity-order revenue: a correlated AVG
# threshold per part (l_quantity < 0.2 * avg(l_quantity) over the same
# part). Float division is not cross-engine-stable, so the predicate is
# rewritten exactly: qty < sum/(5*cnt)  ⇔  qty·5·cnt < sum, all in
# DECIMAL (quantities are exact in (18,2)) — bit-identical booleans on
# both engines. The per-part agg is the small side and broadcasts.
@register(
    "rel_q17_small_qty",
    """WITH agg AS (
  SELECT l_partkey AS a_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         count(*) AS cnt
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE) / 7.0
         AS avg_yearly,
       count(*) AS n_small
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN agg ON a_partkey = l_partkey
WHERE p_brand = 'Brand#17'
  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sum_qty""",
)
def rel_q17_small_qty(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    agg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    part = table(spark, sf, "part").where(
        F.col("p_brand") == "Brand#17"
    ).select("p_partkey")
    small = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(agg), F.col("a_partkey") == F.col("l_partkey"))
        .where(
            F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("cnt")
            < F.col("sum_qty")
        )
    )
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(24,8)")).cast("double")
            / 7.0
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape — nested IN with a grouped-HAVING inner query:
# nation-filtered suppliers who shipped more than a quantity threshold
# of color-named parts. Both INs become left-semi joins; the inner
# GROUP BY ... HAVING reduces lineitem⋈part before the semi, so the
# outer supplier scan never joins raw lineitem. (The reference's
# partsupp availqty correlation has no fixture analogue; the shipped-
# quantity threshold keeps the nested-semi + agg-threshold shape.)
@register(
    "rel_q20_excess_shippers",
    """SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '%red%'
    GROUP BY l_suppkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 500)
  AND s_nationkey IN (
    SELECT n_nationkey FROM nation
    WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9', 'NATION_13'))""",
)
def rel_q20_excess_shippers(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    part = table(spark, sf, "part").where(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    shippers = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"))
        .where(F.col("sq") > 500)
    )
    nations = table(spark, sf, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_5", "NATION_9", "NATION_13")
    )
    supp = table(spark, sf, "supplier")
    return (
        supp.join(
            F.broadcast(shippers),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .join(
            F.broadcast(nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape — "important stock": per-key value HAVING a threshold
# that is a FRACTION OF A GLOBAL AGGREGATE over the same filtered set
# (the one TPC-H shape where the scalar subquery scans the query's own
# CTE, not a different table). Fixture adaptation: no partsupp, so
# value(part) = lineitem revenue restricted to suppliers of two nations
# (Q11's GERMANY filter). The fractional threshold is rewritten
# multiplication-only — value * 1000 > total ⇔ value > 0.001 * total —
# so the comparison stays in DECIMAL and is bit-identical across
# engines (no float division). Scale: the per-part agg shuffles on
# l_partkey (uniform); the global total is a 1-row broadcast cross
# join, never a driver collect.
@register(
    "rel_q11_important_parts",
    f"""WITH pv AS (
  SELECT l_partkey, sum({_REV_DECIMAL}) AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_7', 'NATION_19')
  GROUP BY l_partkey)
SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
FROM pv
WHERE part_value * 1000 > (SELECT sum(part_value) FROM pv)""",
)
def rel_q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    nations = table(spark, sf, "nation").where(
        F.col("n_name").isin("NATION_7", "NATION_19")
    )
    supp = (
        table(spark, sf, "supplier")
        .join(
            F.broadcast(nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_suppkey")
    )
    pv = (
        table(spark, sf, "lineitem")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(_rev()).alias("part_value"))
    )
    total = pv.agg(F.sum("part_value").alias("_total"))
    return (
        pv.join(F.broadcast(total))  # 1-row broadcast cross join
        .where(F.col("part_value") * 1000 > F.col("_total"))
        .select(
            "l_partkey", F.col("part_value").cast("double").alias("part_value")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape — supplier-count distribution: COUNT(DISTINCT) under a
# multi-column GROUP BY, with a NOT IN subquery (→ anti join; the
# "complaint suppliers" of the reference become negative-balance
# suppliers, the fixture's only supplier-quality signal) and a
# negated LIKE + IN-list part filter. The distinct-agg + anti-join
# combination is the one Q-shape the sweep still lacked. Scale: the
# anti join's right side is supplier (broadcast-size); the distinct
# agg shuffles on (p_brand, p_type, p_size, l_suppkey) — Spark plans
# it as a two-phase partial-distinct expand, map-side combinable.
@register(
    "rel_q16_supplier_cnt",
    """SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size""",
)
def rel_q16_supplier_cnt(spark: SparkSession, sf: str) -> DataFrame:
    part = table(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    complaints = (
        table(spark, sf, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        table(spark, sf, "lineitem")
        .join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
