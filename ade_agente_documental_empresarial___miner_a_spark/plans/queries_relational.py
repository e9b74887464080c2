"""Relational battery — joins, windows, set operations, temporal and
slowly-changing-dimension patterns, star-schema aggregates (``rel_*``),
numeric aggregate semantics (``agg_*``) and skewed-key plans
(``skew_*``), each oracle-paired with DuckDB.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactmath import (
    dblround,
    halfup_mean,
    halfup_mean_duck,
    halfup_ratio,
    halfup_ratio_duck,
)
from ..operators.sessions import sessionize
from .catalog import (
    DUCK_EVENTS,
    _source_tag,
    duck_ev,
    events_table,
    register,
    table,
)
from .queries_ingest import _ensure_partitioned_events


@register(
    "rel_window_running",
    # ORDER BY totality (r10 sf0.1 catch): the fixture's
    # (l_orderkey, l_linenumber) is NOT unique — sf0.1 carries 261k
    # duplicate pairs and TWO rows duplicating the full
    # (suppkey, shipdate, orderkey, linenumber) sort key, so a running
    # sum ordered only by those columns is genuinely order-dependent
    # (engines split nondeterministically: 1/600k rows, off by one
    # quantity). l_quantity joins the ORDER BY on both engines; any
    # remaining full ties then carry EQUAL quantity, which makes the
    # output multiset permutation-invariant (the hash gate compares
    # sorted rows, so multiset determinism is the contract).
    """SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
            OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
FROM lineitem""",
)
def rel_window_running(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return table(spark, sf, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_qty"),
    )


@register(
    "rel_rollup_orders",
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
)
def rel_rollup_orders(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "rel_cube_events",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events)
SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM ev GROUP BY CUBE (event_type, CAST(user_id % 10 AS BIGINT))""",
)
def rel_cube_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("long")
    )
    return ev.cube("event_type", "user_bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "rel_set_ops",
    """SELECT 'both' AS tag, custkey FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT 'open_only' AS tag, custkey FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')""",
)
def rel_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    o = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    f = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    both = o.intersect(f).select(F.lit("both").alias("tag"), "custkey")
    only = o.exceptAll(f).select(F.lit("open_only").alias("tag"), "custkey")
    return both.unionByName(only)


@register(
    "rel_join_family",
    """SELECT
  (SELECT count(*) FROM customer JOIN orders ON c_custkey = o_custkey) AS n_inner,
  (SELECT count(*) FROM customer c LEFT JOIN orders o ON c_custkey = o_custkey
   WHERE o_orderkey IS NULL) AS n_no_orders,
  (SELECT count(*) FROM customer c WHERE EXISTS
     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_semi,
  (SELECT count(*) FROM customer c WHERE NOT EXISTS
     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_anti""",
)
def rel_join_family(spark: SparkSession, sf: str) -> DataFrame:
    # all four join flavors read off ONE left join in a single agg pass:
    # matched-pair count = inner, unmatched left rows = anti (= customers
    # with no orders), distinct matched keys = semi — one shuffle instead
    # of four joins chained by crossJoins
    cust = table(spark, sf, "customer")
    orders = table(spark, sf, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    unmatched = F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
    return j.agg(
        F.count("o_orderkey").alias("n_inner"),
        F.sum(unmatched).cast("long").alias("n_no_orders"),
        F.countDistinct(
            F.when(F.col("o_orderkey").isNotNull(), F.col("c_custkey"))
        ).alias("n_semi"),
        F.sum(unmatched).cast("long").alias("n_anti"),
    )


# As-of join: for each purchase event, the user's most recent prior
# (or same-instant) non-purchase event. Right side deduped to one row
# per (user, ts) so tie-resolution is well-defined on both engines.
@register(
    "rel_asof_join",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
l AS (SELECT event_id, ts, user_id, value FROM ev WHERE event_type = 'purchase'),
r0 AS (SELECT user_id, ts, max(event_id) AS r_event_id
       FROM ev WHERE event_type <> 'purchase' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.value,
       r0.r_event_id AS matched_event_id,
       CAST(epoch_us(l.ts - r0.ts) AS BIGINT) AS lag_us
FROM l ASOF LEFT JOIN r0 ON l.user_id = r0.user_id AND l.ts >= r0.ts""",
)
def rel_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = events_table(spark, sf)
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    right = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_event_id"))
    )
    joined = asof_join(left, right, on="user_id", right_cols=["r_event_id"])
    return joined.select(
        "event_id",
        "user_id",
        "value",
        F.col("r_event_id_right").alias("matched_event_id"),
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_right"))
        ).alias("lag_us"),
    )


# Range join: purchases paired with every same-user event in the
# trailing 30 minutes. Spark side uses the bucketized equi-join rewrite
# (rangejoin.py); the oracle states the raw inequality join.
@register(
    "rel_range_join",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
l AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'purchase'),
r AS (SELECT event_id AS r_event_id, ts AS r_ts, user_id, event_type AS r_type
      FROM ev WHERE event_type <> 'purchase')
SELECT l.event_id, l.user_id, r.r_event_id, r.r_type,
       CAST(epoch_us(l.ts - r.r_ts) AS BIGINT) AS lag_us
FROM l JOIN r ON l.user_id = r.user_id
             AND r.r_ts <= l.ts
             AND r.r_ts >= l.ts - INTERVAL 30 MINUTE""",
)
def rel_range_join(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rangejoin import range_join_recent

    ev = events_table(spark, sf)
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    right = ev.where(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
        "user_id",
        F.col("event_type").alias("r_type"),
    )
    joined = range_join_recent(
        left, right, on="user_id", window_seconds=1800,
        left_ts="ts", right_ts="r_ts",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("r_event_id_right").alias("r_event_id"),
        F.col("r_type_right").alias("r_type"),
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("r_ts_right"))
        ).alias("lag_us"),
    )


# Window-function battery: lead/lag/ntile/first/last/rank/dense_rank
@register(
    "rel_window_family",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
       lag(l_quantity) OVER w AS prev_qty,
       lead(l_quantity) OVER w AS next_qty,
       first_value(l_quantity) OVER w AS first_qty,
       last_value(l_quantity) OVER (PARTITION BY l_suppkey
                                    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_qty,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       CAST(rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS BIGINT) AS qty_rank,
       CAST(dense_rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS BIGINT) AS qty_dense_rank
FROM lineitem
WINDOW w AS (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)""",
)
def rel_window_family(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    # l_quantity tiebreak: see rel_window_running (r10 sf0.1 catch) —
    # lag/lead/ntile over a non-total order were order-dependent on the
    # full-key-duplicate rows; with equal-quantity ties the output
    # multiset is permutation-invariant
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wq = Window.partitionBy("l_suppkey").orderBy("l_quantity")
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"),
        F.first("l_quantity").over(w).alias("first_qty"),
        F.last("l_quantity").over(wfull).alias("last_qty"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.rank().over(wq).cast("long").alias("qty_rank"),
        F.dense_rank().over(wq).cast("long").alias("qty_dense_rank"),
    )


# Exact interpolated percentiles per group (DuckDB quantile_cont mirror)
@register(
    "rel_percentiles",
    """SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty,
       quantile_cont(l_extendedprice, 0.5) AS p50_price
FROM lineitem GROUP BY l_returnflag""",
)
def rel_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("p50_qty"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_price"),
    )


# Skew-safe aggregation through operators/skew.py::two_phase_agg — the
# hot-key rewrite (salt → partial → final) must be value-identical to the
# plain GROUP BY; decimal sums make the equality exact regardless of
# addition order, so the oracle is the plain aggregation.
@register(
    "skew_salted_agg",
    """WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events)
SELECT event_type, CAST(sum(v) AS DOUBLE) AS total
FROM ev GROUP BY event_type""",
)
def skew_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import two_phase_agg

    ev = events_table(spark, sf).select(
        "event_type", F.col("value").cast("decimal(18,2)").alias("v")
    )
    return two_phase_agg(ev, "event_type", "v", salt_buckets=16).select(
        "event_type", F.col("total").cast("double").alias("total")
    )


# ---------------------------------------------------------------------------
# Batch sessionization — gaps-and-islands over the event log (the batch
# mirror of streaming session windows; operators/sessions.py). 12-hour
# gap matches the fixture cadence (median inter-event gap ≈ 7.3 h).
@register(
    "rel_sessionize",
    f"""WITH {DUCK_EVENTS},
o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
              THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM o)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events, min(ts) AS start_ts, max(ts) AS end_ts,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS DOUBLE) / 1000000.0
         AS duration_s
FROM s GROUP BY user_id, session_id""",
)
def rel_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    return sessionize(ev, gap_minutes=720)


# ---------------------------------------------------------------------------
# Approximate distinct — the HLL contract: the engine's
# approx_count_distinct must land within 15% of the exact count. Sketches
# differ by engine, so the oracle pins (exact count, tolerance verdict),
# not the sketch value: both engines agree on the exact side and the
# boolean. At 100 TB the approx path is the one you run (no
# count-distinct shuffle of the full key set); the exact column here is
# the per-SF audit.
@register(
    "rel_approx_distinct",
    f"""WITH {DUCK_EVENTS}
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       true AS approx_ok
FROM ev GROUP BY event_type""",
)
def rel_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.15 * F.col("exact_users")
        ).alias("approx_ok"),
    )


@register(
    "rel_partition_pruned_scan",
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-10'
  AND CAST(CAST(ts AS TIMESTAMP) AS DATE) <= DATE '2024-01-12'
GROUP BY 1, 2""",
)
def rel_partition_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    path = _ensure_partitioned_events(spark, sf)
    ev = spark.read.parquet(path)
    return (
        ev.where(
            (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
            & (F.col("event_date") <= F.lit("2024-01-12").cast("date"))
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------------------
# PIVOT — long→wide reshape (df.groupBy().pivot() with an EXPLICIT value
# list; an implicit list would add a distinct-scan job and make the
# output schema data-dependent, which breaks at scale and in streaming).
# The reference's tab-2 analytics renders per-type counts side by side
# (micro-infobot/app.py:270-283's dataframe view, generalized). Pivoted
# sums ride DECIMAL(18,6) so each cell is order-insensitive; absent
# (date, type) cells stay NULL on both engines (SUM over empty = NULL).
# Scale: one shuffle on event_date (uniform daily keys); the pivot adds
# zero extra exchanges — it is the same hash aggregate with 5 projected
# sum slots.
_PIVOT_CELLS = ",\n ".join(
    f"CAST(sum(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,6)) END) "
    f"AS DOUBLE) AS {t}"
    for t in _EVENT_TYPES
)


@register(
    "rel_pivot_events",
    f"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
 {_PIVOT_CELLS}
FROM events GROUP BY 1""",
)
def rel_pivot_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).withColumn("event_date", F.to_date("ts"))
    return (
        ev.groupBy("event_date")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        )
    )


# ---------------------------------------------------------------------------
# UNPIVOT (melt) — wide→long, the inverse reshape (DataFrame.unpivot /
# SQL UNPIVOT). Runs on the pivoted frame above so the pair documents a
# lossless round trip: pivot → unpivot → the original long-form
# aggregate. Spark's unpivot keeps NULL cells (it is melt, not SQL
# UNPIVOT); the explicit IS NOT NULL filter pins the SQL-UNPIVOT
# semantics the oracle's UNION ALL expresses. Scale: unpivot is a
# map-only projection (5 struct rows per input row) — no shuffle.
@register(
    "rel_unpivot_events",
    f"""WITH wide AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
 {_PIVOT_CELLS}
  FROM events GROUP BY 1)
SELECT event_date, event_type, total_value FROM (
  {" UNION ALL ".join(
      f"SELECT event_date, '{t}' AS event_type, {t} AS total_value FROM wide"
      for t in _EVENT_TYPES
  )})
WHERE total_value IS NOT NULL""",
)
def rel_unpivot_events(spark: SparkSession, sf: str) -> DataFrame:
    wide = rel_pivot_events(spark, sf)
    return wide.unpivot(
        ["event_date"], _EVENT_TYPES, "event_type", "total_value"
    ).where(F.col("total_value").isNotNull())


# ---------------------------------------------------------------------------
# GROUPING SETS — multi-granularity aggregation in ONE pass (region×nation
# detail + region subtotals + grand total). rollup/cube are already
# covered (rel_rollup_orders, rel_cube_events); GROUPING SETS is the
# general form and the only one of the three with an explicit set list,
# plus the GROUPING() marker that disambiguates "NULL because aggregated
# away" from data NULLs. Expressed through spark.sql over a temp view —
# the DataFrame API has no grouping-sets verb; Catalyst expands it to a
# single Expand + one hash aggregate (NOT one scan per set — that is the
# whole point at 100 TB; the Expand triples rows map-side, the shuffle
# stays one). The revenue stays DECIMAL(38,8) through the aggregate: the
# grand-total row carries 18 significant digits, past double precision,
# and the two engines' decimal→double conversions disagree by 1 ulp there
# (verified at sf0.01) — which is exactly where the driver's hash
# canonicalization diverged in r04 (hash_match false on a cell-exact
# result). The SURFACED value is therefore the exact decimal rendered as
# a STRING: both engines print DECIMAL(38,8) identically (full scale-8
# digits, '-' sign, no exponent — verified cell-by-cell), so the driver
# hashes a byte-identical representation with zero precision loss.
@register(
    "rel_grouping_sets",
    """SELECT r_name, n_name,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(24,8)))
            AS DECIMAL(38,8)) AS VARCHAR) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())""",
)
def rel_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    reg = table(spark, sf, "region").select("r_regionkey", "r_name")
    src = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "r_name",
            "n_name",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(24,8)")
            .alias("rev"),
        )
    )
    src.createOrReplaceTempView("gs_rev_src")
    return spark.sql(
        """SELECT r_name, n_name,
       CAST(grouping(r_name) AS BIGINT) AS g_region,
       CAST(grouping(n_name) AS BIGINT) AS g_nation,
       CAST(CAST(sum(rev) AS DECIMAL(38,8)) AS STRING) AS revenue
FROM gs_rev_src
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())"""
    )


# ---------------------------------------------------------------------------
# Salted-join equivalence — the catalog entry that pins
# operators/skew.salted_join's row-level semantics against the PLAIN
# join the oracle runs: revenue per supplier through a lineitem ⋈
# supplier join executed with 8-way big-side salting (the rewrite for
# hot keys AQE can't split — the salt spreads each supplier key over 8
# reducers; the small side is replicated 8×, broadcast-size here).
# DECIMAL sums make the aggregate order-insensitive, so the salted
# shuffle's arbitrary arrival order cannot show through.
@register(
    "skew_salted_join_rev",
    """SELECT s_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,8)))
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name""",
)
def skew_salted_join_rev(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = table(spark, sf, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(24,8)")
        .alias("rev"),
    )
    supp = table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    joined = salted_join(li, supp, on="suppkey", salt_buckets=8)
    return joined.groupBy("s_name").agg(
        F.sum("rev").cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# SCD type-2 history — the other half of the CDC pair: stream_cdc_latest
# materializes the SNAPSHOT; this builds the full slowly-changing-
# dimension history (validity intervals per key version) from the same
# changelog, the standard warehouse dimension-table shape. One lead()
# window per key in (ts, event_id) order — same single shuffle as the
# snapshot query; is_current marks the open interval. At scale the
# history table is append-mostly and partitions by valid_from date.
@register(
    "rel_scd2_history",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                          event_type, value FROM events)
SELECT user_id, event_type, value AS attr_value,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id, event_type
                      ORDER BY ts, event_id) AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS BIGINT) AS version,
       lead(ts) OVER (PARTITION BY user_id, event_type
                      ORDER BY ts, event_id) IS NULL AS is_current
FROM ev""",
)
def rel_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        valid_to.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention — the product-analytics staple the events
# fixture supports but the catalog lacked: users grouped by first-active
# week (cohort), counted per subsequent active week offset. Two hash
# aggregates (distinct user-weeks; per-user min) + one join on user_id —
# all three share the user_id partitioning, so AQE plans a single
# exchange chain; weeks are Monday-truncated DATEs on both engines.
@register(
    "rel_cohort_retention",
    f"""WITH {DUCK_EVENTS},
wk AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
       FROM ev),
first AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
       count(*) AS users
FROM wk JOIN first USING (user_id)
GROUP BY cohort_week, week_offset""",
)
def rel_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    wk = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    first = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("users"))
    )


# ---------------------------------------------------------------------------
# Semi-structured JSON extraction — events.props is a JSON string column
# (the open-schema attribute bag every event pipeline carries). Typed
# extraction (get_json_object / json_extract_string) + per-type rollup.
# At scale the extraction is map-side; only the 5-key rollup shuffles.
@register(
    "rel_json_props",
    """SELECT event_type,
  count(*) AS n,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS k_sum,
  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS k_min,
  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS k_max
FROM events
GROUP BY event_type""",
)
def rel_json_props(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


# ---------------------------------------------------------------------------
# Weighted median — revenue-weighted median order quantity per return
# flag: the smallest quantity whose cumulative revenue weight reaches
# half the group total. Pure decimal/integer math (weights DECIMAL(18,2))
# so the cumulative comparison is exact on both engines. Scale shape:
# one (flag, qty) pre-aggregate collapses the fact table map-side; the
# windows then run over ~50 rows per flag — the heavy data never meets
# a window.
@register(
    "rel_weighted_median",
    """WITH wq AS (
  SELECT l_returnflag, l_quantity,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS w
  FROM lineitem GROUP BY l_returnflag, l_quantity),
c AS (
  SELECT l_returnflag, l_quantity, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM wq)
SELECT l_returnflag,
       min(CASE WHEN cum * 2 >= tot THEN l_quantity END)
         AS weighted_median_qty,
       CAST(max(tot) AS DOUBLE) AS total_weight
FROM c GROUP BY l_returnflag""",
)
def rel_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("ep"),
    )
    wq = li.groupBy("l_returnflag", "l_quantity").agg(F.sum("ep").alias("w"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    c = wq.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w").over(wcum).alias("cum"),
        F.sum("w").over(wtot).alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("l_quantity"))
        ).alias("weighted_median_qty"),
        F.max("tot").cast("double").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Z-order layout keys — the multi-dimensional clustering math behind
# Delta/Iceberg OPTIMIZE ZORDER, surfaced as a query: interleave the low
# 16 bits of (user_id, epoch-day) into a 32-bit z-value, bucket by the
# high bits, and report each bucket's (user, day) bounding box. The
# point of the output: every z-bucket spans a NARROW range of BOTH
# dimensions — that is what makes min/max footer stats skippable for
# either predicate. The interleave expression is generated once and
# rendered for each engine's operator syntax (same arithmetic).
_ZBITS = 16


def _z_expr(spark_side: bool) -> str:
    terms = []
    for i in range(_ZBITS):
        if spark_side:
            terms.append(f"shiftleft(shiftright(ux, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright(dy, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"(((ux >> {i}) & 1) << {2 * i})")
            terms.append(f"(((dy >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "rel_zorder_keys",
    f"""WITH {DUCK_EVENTS},
k AS (
  SELECT user_id & 65535 AS ux,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) & 65535 AS dy
  FROM ev),
z AS (SELECT ux, dy, {_z_expr(False)} AS zval FROM k)
SELECT zval >> 6 AS zbucket,
       count(*) AS n,
       CAST(min(ux) AS BIGINT) AS ux_min, CAST(max(ux) AS BIGINT) AS ux_max,
       CAST(min(dy) AS BIGINT) AS dy_min, CAST(max(dy) AS BIGINT) AS dy_max
FROM z GROUP BY zbucket""",
)
def rel_zorder_keys(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    k = ev.select(
        (F.col("user_id").bitwiseAND(65535)).alias("ux"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .bitwiseAND(65535)
        .alias("dy"),
    )
    z = k.select("ux", "dy", F.expr(_z_expr(True)).alias("zval"))
    return z.groupBy(
        F.shiftright("zval", 6).cast("long").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ux").cast("long").alias("ux_min"),
        F.max("ux").cast("long").alias("ux_max"),
        F.min("dy").cast("long").alias("dy_min"),
        F.max("dy").cast("long").alias("dy_max"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters — the streaming-sketch representative
# with an EXACT oracle: the sketch is deterministic (4 rows × 256
# buckets, bucket = first md5 byte of a salted key), so both engines
# build bit-identical sketches and the CMS estimate (min over rows) is
# engine-exact. Output: the true top-10 users with exact count and CMS
# estimate — estimate >= exact always (one-sided error), equality when
# no collision. At scale: the sketch is 1024 cells regardless of
# cardinality (broadcastable state, mergeable across partitions/windows)
# — that is the whole point vs the exact groupBy it is compared to.
_CMS_D = 4


def _cms_bucket_duck(d: int) -> str:
    h = f"md5('cms{d}:' || CAST(user_id AS VARCHAR))"
    return (
        f"(strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)"
    )


def _cms_sql() -> str:
    sketches = "\nUNION ALL\n".join(
        f"SELECT {d} AS d, {_cms_bucket_duck(d)} AS bucket, count(*) AS n_b"
        f" FROM ev GROUP BY bucket"
        for d in range(_CMS_D)
    )
    probes = "\nUNION ALL\n".join(
        f"SELECT user_id, n_exact, {d} AS d, {_cms_bucket_duck(d)} AS bucket"
        f" FROM top"
        for d in range(_CMS_D)
    )
    return f"""WITH {DUCK_EVENTS},
sk AS ({sketches}),
exact AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY user_id),
top AS (SELECT user_id, n_exact FROM exact
        ORDER BY n_exact DESC, user_id LIMIT 10),
pr AS ({probes})
SELECT pr.user_id, CAST(pr.n_exact AS BIGINT) AS n_exact,
       CAST(min(sk.n_b) AS BIGINT) AS n_cms
FROM pr JOIN sk ON pr.d = sk.d AND pr.bucket = sk.bucket
GROUP BY pr.user_id, pr.n_exact"""


def _cms_bucket_spark(d: int):
    from ..operators.curation import _hexval

    h = F.md5(
        F.concat(F.lit(f"cms{d}:"), F.col("user_id").cast("string"))
    )
    return (_hexval(h, 1) * 16 + _hexval(h, 2)).cast("long")


@register("rel_heavy_hitters_cms", _cms_sql())
def rel_heavy_hitters_cms(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).select("user_id")
    d_col = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d")
    keyed = ev.select("user_id", d_col)
    # per-row bucket: dispatch on d via chained whens (d is tiny)
    bucket = _cms_bucket_spark(0)
    for d in range(1, _CMS_D):
        bucket = F.when(F.col("d") == d, _cms_bucket_spark(d)).otherwise(
            bucket
        )
    sk = keyed.withColumn("bucket", bucket).groupBy("d", "bucket").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    top = exact.orderBy(F.desc("n_exact"), "user_id").limit(10)
    probes = top.select(
        "user_id", "n_exact", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d")
    )
    pbucket = _cms_bucket_spark(0)
    for d in range(1, _CMS_D):
        pbucket = F.when(F.col("d") == d, _cms_bucket_spark(d)).otherwise(
            pbucket
        )
    probes = probes.withColumn("bucket", pbucket)
    return (
        probes.join(F.broadcast(sk), ["d", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("n_b").alias("n_cms"))
    )


# ---------------------------------------------------------------------------
# Cogrouped-Pandas as-of join — the as-of semantics of rel_asof_join
# executed through groupBy().cogroup().applyInPandas(pd.merge_asof):
# the one Arrow-batched API surface (cogrouped map) the engine had not
# yet exercised. Use case at scale: per-key logic too gnarly for SQL
# (custom matching, model scoring against a per-key reference frame) —
# both sides shuffle ONCE on the key, then each key's pair of frames
# meets in a single Python worker, Arrow both ways. The oracle is the
# same ASOF LEFT JOIN contract as rel_asof_join.
@register(
    "rel_asof_cogrouped",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                          event_type FROM events),
l AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'purchase'),
r0 AS (SELECT user_id, ts, max(event_id) AS r_event_id
       FROM ev WHERE event_type <> 'purchase' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id,
       r0.r_event_id AS matched_event_id,
       CAST(epoch_us(l.ts - r0.ts) AS BIGINT) AS lag_us
FROM l ASOF LEFT JOIN r0 ON l.user_id = r0.user_id AND l.ts >= r0.ts""",
)
def rel_asof_cogrouped(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    ev = events_table(spark, sf)
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    right = (
        ev.where(F.col("event_type") != "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_event_id"))
    )

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        l = l.sort_values("ts", kind="mergesort")
        if len(r) == 0:
            out = l[["event_id", "user_id"]].copy()
            out["matched_event_id"] = pd.array([None] * len(l), dtype="Int64")
            out["lag_us"] = pd.array([None] * len(l), dtype="Int64")
            return out
        r = r.sort_values("ts", kind="mergesort").rename(
            columns={"ts": "r_ts", "user_id": "r_user_id"}
        )
        m = pd.merge_asof(
            l, r, left_on="ts", right_on="r_ts", direction="backward"
        )
        lag = (m["ts"] - m["r_ts"]) / pd.Timedelta(microseconds=1)
        return pd.DataFrame(
            {
                "event_id": m["event_id"],
                "user_id": m["user_id"],
                "matched_event_id": m["r_event_id"].astype("Int64"),
                "lag_us": lag.astype("Int64"),
            }
        )

    return (
        left.groupBy("user_id")
        .cogroup(right.groupBy("user_id"))
        .applyInPandas(
            merge,
            "event_id long, user_id long, matched_event_id long, lag_us long",
        )
    )


# ---------------------------------------------------------------------------
# Equi-width histogram — the two-pass binning pattern: pass 1 reduces to
# a 1-row (min, max) frame (broadcast, never collected to the driver);
# pass 2 assigns bins map-side and aggregates 20 keys. The bin
# expression is written once, identically, for both engines: floor on a
# deterministic double ratio, clamped so value == max lands in the top
# bin. Value mass per bin rides DECIMAL(18,2).
@register(
    "rel_value_histogram",
    """WITH st AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events)
SELECT CAST(least(floor(coalesce((value - vmin)
                                 / nullif((vmax - vmin) / 20.0, 0.0),
                                 0.0)), 19.0)
            AS BIGINT) AS bin,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_mass
FROM events CROSS JOIN st
GROUP BY bin""",
)
def rel_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).select("value")
    st = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    # nullif+coalesce: a ZERO-RANGE column (vmax == vmin — e.g. one
    # constant measure) has bin width 0; the unguarded ratio is 0/0 —
    # ANSI aborts the job, DuckDB NULLs (parity_fuzz const profile).
    # Pinning the ratio to 0 puts all mass in bin 0 on BOTH engines and
    # is value-neutral whenever the range is nonzero.
    binned = ev.crossJoin(F.broadcast(st)).select(
        F.least(
            F.floor(
                F.coalesce(
                    (F.col("value") - F.col("vmin"))
                    / F.nullif(
                        (F.col("vmax") - F.col("vmin")) / 20.0,
                        F.lit(0.0),
                    ),
                    F.lit(0.0),
                )
            ),
            F.lit(19.0),
        )
        .cast("long")
        .alias("bin"),
        "value",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("value_mass"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill — the hypertable staple (TimescaleDB
# time_bucket_gapfill / locf): materialize the COMPLETE hourly grid per
# event type from a 1-row bounds frame, left-join the observed hourly
# aggregate, and forward-fill value mass with the last observation
# (hours before a type's first observation stay NULL — no fabricated
# data). Grid generation is a broadcast explode (bounded by the time
# span, independent of event volume); the fill is one per-type ordered
# window — the same partitioning the hourly aggregate already has.
@register(
    "rel_gap_fill",
    f"""WITH {DUCK_EVENTS},
c AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n,
         sum(CAST(value AS DECIMAL(18,2))) AS vm
  FROM ev GROUP BY event_type, hr),
b AS (SELECT min(hr) AS hmin, max(hr) AS hmax FROM c),
grid AS (
  SELECT t.event_type,
         unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS hr
  FROM (SELECT DISTINCT event_type FROM c) t CROSS JOIN b),
j AS (
  SELECT g.event_type, g.hr, c.n, c.vm
  FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.hr = c.hr)
SELECT event_type, hr,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
       CAST(last_value(vm IGNORE NULLS) OVER (
              PARTITION BY event_type ORDER BY hr
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS value_mass_ff,
       (n IS NULL) AS filled
FROM j""",
)
def rel_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = events_table(spark, sf)
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("vm"),
    )
    b = c.agg(F.min("hr").alias("hmin"), F.max("hr").alias("hmax"))
    grid = (
        c.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("hmin"), F.col("hmax"), F.expr("interval 1 hour")
                )
            ).alias("hr"),
        )
    )
    j = grid.join(c, ["event_type", "hr"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hr",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.last("vm", ignorenulls=True).over(w).cast("double").alias(
            "value_mass_ff"
        ),
        F.col("n").isNull().alias("filled"),
    )


# ---------------------------------------------------------------------------
# EWMA over the gap-filled hourly series — the truncated exponentially
# weighted moving average (24-hour lookback, alpha = 0.3) on top of the
# same complete grid rel_gap_fill materializes (gaps count as 0 events,
# so lag offsets are true hours). Parity design: the weights
# alpha·(1-alpha)^j are computed ONCE in Python and embedded as
# identical literals in both plans — pow() never runs in either engine;
# each term is round(·,9)-quantized and the 24 terms add as exact
# decimals in a fixed chain. Rows with fewer than 24 hours of history
# are excluded (no partial-window renormalization). One window
# partition per event type carries all 24 lags — a single shuffle.
# Precision budget: terms are DECIMAL(14,9) because a chained 24-term
# decimal addition grows precision by +1 per add on BOTH engines —
# 14+23 = 37 stays under the 38 cap, so the scale is never truncated
# (DECIMAL(20,9) terms overflowed the cap and Spark silently reduced
# the result scale to 6, shearing the last three digits).
_EWMA_LAGS = 24


_EWMA_ALPHA = 0.3


_EWMA_WEIGHTS = [
    repr(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j) for j in range(_EWMA_LAGS)
]


def _ewma_sql() -> str:
    terms = " + ".join(
        f"CAST(round(CAST({w} AS DOUBLE) * lag(x, {j}) OVER w * 1e9)"
        f" / 1e9 AS DECIMAL(14,9))"
        for j, w in enumerate(_EWMA_WEIGHTS)
    )
    return f"""WITH {DUCK_EVENTS},
c AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(count(*) AS DOUBLE) AS n
  FROM ev GROUP BY event_type, hr),
b AS (SELECT min(hr) AS hmin, max(hr) AS hmax FROM c),
grid AS (
  SELECT t.event_type,
         unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS hr
  FROM (SELECT DISTINCT event_type FROM c) t CROSS JOIN b),
x AS (
  SELECT g.event_type, g.hr, coalesce(c.n, CAST(0 AS DOUBLE)) AS x
  FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.hr = c.hr),
e AS (
  SELECT event_type, hr, x,
         CAST(({terms}) AS DOUBLE) AS ewma,
         lag(x, {_EWMA_LAGS - 1}) OVER w AS oldest
  FROM x WINDOW w AS (PARTITION BY event_type ORDER BY hr))
SELECT event_type, hr, CAST(x AS BIGINT) AS n_events, ewma
FROM e WHERE oldest IS NOT NULL"""


@register("rel_ewma_hourly", _ewma_sql())
def rel_ewma_hourly(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = events_table(spark, sf)
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    b = c.agg(F.min("hr").alias("hmin"), F.max("hr").alias("hmax"))
    grid = (
        c.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("hmin"), F.col("hmax"), F.expr("interval 1 hour")
                )
            ).alias("hr"),
        )
    )
    x = grid.join(c, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce(F.col("n"), F.lit(0.0)).alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    terms = None
    for j, wt in enumerate(_EWMA_WEIGHTS):
        t = (
            dblround(F.lit(float(wt)) * F.lag("x", j).over(w), 9)
            .cast("decimal(14,9)")
        )
        terms = t if terms is None else terms + t
    e = x.select(
        "event_type",
        "hr",
        "x",
        terms.cast("double").alias("ewma"),
        F.lag("x", _EWMA_LAGS - 1).over(w).alias("oldest"),
    )
    return e.where(F.col("oldest").isNotNull()).select(
        "event_type",
        "hr",
        F.col("x").cast("long").alias("n_events"),
        "ewma",
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery — per-nation top-3 customers by balance,
# expressed as the SQL-standard lateral join (per outer row: ORDER BY +
# LIMIT). Catalyst rewrites this into the same WindowGroupLimit /
# per-group top-k physical shape as K3 — the lateral form is the
# SQL-surface contract, not a different engine strategy; no per-row
# re-scan survives optimization. c_acctbal doubles compare exactly.
@register(
    "rel_lateral_topk",
    """SELECT n.n_name AS nation, t.c_custkey, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 3) t""",
)
def rel_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    table(spark, sf, "nation").createOrReplaceTempView("_lat_nation")
    table(spark, sf, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """SELECT n.n_name AS nation, t.c_custkey, t.c_acctbal
           FROM _lat_nation n,
           LATERAL (
             SELECT c_custkey, c_acctbal
             FROM _lat_customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey
             LIMIT 3) t"""
    )


# ---------------------------------------------------------------------------
# VariantType extraction — events.props parsed ONCE into the binary
# variant encoding, then typed variant_get paths feed the rollup.
# Versus rel_json_props (get_json_object re-parses the string per
# access), variant is the 100 TB shape: parse cost paid once at ingest,
# every downstream access is a binary traversal, and shredded storage
# can push paths into the scan. Rollup: per event type × k-decile.
@register(
    "rel_variant_props",
    """SELECT event_type,
       CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT)
                  / 10.0) AS BIGINT) AS k_decile,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum
FROM events
GROUP BY event_type, k_decile""",
)
def rel_variant_props(spark: SparkSession, sf: str) -> DataFrame:
    from .catalog import events_table

    ev = events_table(spark, sf)
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("pv")
    ).select(
        "event_type",
        F.variant_get(F.col("pv"), "$.k", "long").alias("k"),
    )
    return v.groupBy(
        "event_type",
        F.floor(F.col("k") / 10.0).cast("long").alias("k_decile"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("k_sum"),
    )


# ---------------------------------------------------------------------------
# pandas GROUPED_AGG UDAF — Gini concentration of customer account
# balances per nation. The custom-aggregate API exercise (Arrow batch
# in, scalar out), with the exact-integer parity recipe: balances
# become exact cents (int64), the sorted index-weighted sum and the
# plain sum are exact int64 arithmetic (no float fold anywhere), and
# the single final expression converts to double in one fixed operation
# order — bit-identical on both engines, so no rounding is needed.
#   G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ),  xᵢ ascending, i = 1..n
def _make_gini_udaf():
    # functionType is explicit (not type-hint-inferred): this module uses
    # ``from __future__ import annotations``, so the hints are strings and
    # the locally-imported ``pd`` name is unresolvable at inference time.
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", functionType=PandasUDFType.GROUPED_AGG)
    def gini_cents(cents, key):
        import numpy as np

        c = cents.to_numpy(dtype="int64")
        k = key.to_numpy(dtype="int64")
        order = np.lexsort((k, c))
        x = c[order]
        n = len(x)
        i = np.arange(1, n + 1, dtype="int64")
        six = int((i * x).sum())
        sx = int(x.sum())
        return (2.0 * six - (n + 1.0) * sx) / ((n * 1.0) * sx)

    return gini_cents


@register(
    "agg_gini_nation",
    """WITH x AS (
  SELECT n.n_name AS nation,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents,
         c.c_custkey,
         row_number() OVER (
           PARTITION BY n.n_name
           ORDER BY CAST(round(c.c_acctbal * 100) AS BIGINT), c.c_custkey
         ) AS i
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
s AS (
  SELECT nation, count(*) AS n, sum(i * cents) AS six, sum(cents) AS sx
  FROM x GROUP BY nation)
SELECT nation,
       CAST(n AS BIGINT) AS n_customers,
       (2.0 * six - (n + 1.0) * sx) / ((n * 1.0) * sx) AS gini
FROM s
WHERE sx <> 0""",
)
def agg_gini_nation(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer")
    nat = table(spark, sf, "nation")
    x = cust.join(
        F.broadcast(nat),
        cust["c_nationkey"] == nat["n_nationkey"],
    ).select(
        F.col("n_name").alias("nation"),
        F.round(F.col("c_acctbal") * 100)
        .cast("long")
        .alias("cents"),
        "c_custkey",
    )
    gini = _make_gini_udaf()
    # Spark refuses to mix a GROUPED_AGG pandas UDF with JVM aggregates
    # in one agg ([INVALID_PANDAS_UDF_PLACEMENT]); the counts ride a
    # separate 25-row aggregate joined back broadcast-side.
    g = x.groupBy("nation").agg(
        gini(F.col("cents"), F.col("c_custkey")).alias("gini")
    )
    counts = x.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("_sx"),
    )
    return (
        g.join(F.broadcast(counts), "nation")
        .where(F.col("_sx") != 0)
        .select("nation", "n_customers", "gini")
    )


# ---------------------------------------------------------------------------
# Value-based RANGE frame — trailing 1-hour per-user activity window:
# for every event, how many events (and how much value mass) the same
# user produced in [ts - 59m59s, ts]. A ROWS frame cannot express this
# (row counts ≠ time spans); the RANGE frame is the native shape for
# time-decay features, rate limiting, and rolling exposure. Frames are
# peer-inclusive, so the result is independent of intra-second row
# order — a determinism property ROWS frames lack. One shuffle: the
# same user_id partitioning every per-user feature shares. At 100 TB
# the frame state per partition is bounded by the time horizon, not
# the stream (Spark evaluates RANGE frames with a sliding two-pointer
# over the sorted partition).
@register(
    "rel_range_frame",
    f"""WITH {DUCK_EVENTS},
x AS (
  SELECT event_id, user_id,
         -- floor, not CAST: Spark's unix_timestamp truncates sub-second
         -- micros while a DuckDB BIGINT cast would round them
         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         CAST(value AS DECIMAL(18,2)) AS vd
  FROM ev)
SELECT event_id, user_id, ep,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(vd) OVER w AS DOUBLE) AS val_1h
FROM x
WINDOW w AS (PARTITION BY user_id ORDER BY ep
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""",
)
def rel_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    x = ev.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ep"),
        F.col("value").cast("decimal(18,2)").alias("vd"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-3599, Window.currentRow)
    )
    return x.select(
        "event_id",
        "user_id",
        "ep",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum("vd").over(w).cast("double").alias("val_1h"),
    )


# ---------------------------------------------------------------------------
# ANALYZE-style column statistics — the engine-completeness staple:
# per-column row count, exact NDV, min/max, and DECIMAL-exact value
# sum for the lineitem measures. ONE scan computes all columns' stats
# (wide aggregate), then an unpivot (stack) reshapes to the catalog's
# long form — at 100 TB this is the difference between one pass and
# one pass per column. count(DISTINCT a), count(DISTINCT b), ... in a
# single aggregate compiles to one Expand (3× rows pre-aggregated
# map-side), still cheaper than 3 scans of a wide fact table.
_STAT_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _colstats_sql() -> str:
    parts = [
        f"""SELECT '{c}' AS col_name,
       count(*) AS n,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS vmin,
       CAST(max({c}) AS DOUBLE) AS vmax,
       CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS vsum
FROM lineitem"""
        for c in _STAT_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@register("rel_column_stats", _colstats_sql())
def rel_column_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    aggs = []
    for c in _STAT_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.sum(F.col(c).cast("decimal(18,2)"))
            .cast("double")
            .alias(f"{c}__sum"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__n`, `{c}__nd`, `{c}__min`, `{c}__max`, `{c}__sum`"
        for c in _STAT_COLS
    )
    return wide.selectExpr(
        f"stack({len(_STAT_COLS)}, {stack_args}) AS "
        "(col_name, n, n_distinct, vmin, vmax, vsum)"
    )


# ---------------------------------------------------------------------------
# NULL-semantics battery — the correctness corners every engine must
# agree on: a derived nullable key (majority flag 'N' → NULL), a
# dimension probe containing NULL joined with NULL-SAFE equality
# (<=> / IS NOT DISTINCT FROM: NULL matches NULL — a plain = join
# would drop that row), count(*) vs count(col) vs count(DISTINCT col)
# over the nullable key, and an explicit NULLS FIRST ordinal (Spark
# defaults ASC NULLS FIRST, DuckDB defaults NULLS LAST — the contract
# is pinned by writing it out).
@register(
    "rel_null_semantics",
    """WITH g AS (
  SELECT nullif(l_returnflag, 'N') AS nf, count(*) AS n_group
  FROM lineitem GROUP BY nf),
s AS (
  SELECT count(*) AS n_rows, count(nf) AS n_nonnull,
         count(DISTINCT nf) AS n_distinct
  FROM (SELECT nullif(l_returnflag, 'N') AS nf FROM lineitem)),
d AS (SELECT * FROM (VALUES ('A'), ('R'), (NULL), ('X')) AS t(dim_flag))
SELECT d.dim_flag,
       CAST(coalesce(g.n_group, 0) AS BIGINT) AS n_group,
       CAST(row_number() OVER (ORDER BY d.dim_flag ASC NULLS FIRST)
            AS BIGINT) AS ord_nulls_first,
       s.n_rows, CAST(s.n_nonnull AS BIGINT) AS n_nonnull,
       CAST(s.n_distinct AS BIGINT) AS n_distinct
FROM d
LEFT JOIN g ON d.dim_flag IS NOT DISTINCT FROM g.nf
CROSS JOIN s""",
)
def rel_null_semantics(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("nf")
    )
    g = li.groupBy("nf").agg(F.count(F.lit(1)).alias("n_group"))
    s = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("nf").alias("n_nonnull"),
        F.count_distinct("nf").cast("long").alias("n_distinct"),
    )
    d = spark.createDataFrame(
        [("A",), ("R",), (None,), ("X",)], "dim_flag string"
    )
    out = (
        d.join(g, d["dim_flag"].eqNullSafe(g["nf"]), "left")
        .select(
            "dim_flag",
            F.coalesce(F.col("n_group"), F.lit(0))
            .cast("long")
            .alias("n_group"),
        )
        .withColumn(
            "ord_nulls_first",
            F.row_number()
            .over(Window.orderBy(F.asc_nulls_first("dim_flag")))
            .cast("long"),
        )
        .crossJoin(F.broadcast(s))
    )
    return out.select(
        "dim_flag",
        "n_group",
        "ord_nulls_first",
        "n_rows",
        F.col("n_nonnull").cast("long").alias("n_nonnull"),
        "n_distinct",
    )


# ---------------------------------------------------------------------------
# Recursive CTE — transitive ancestor closure over a deterministic
# hierarchy (binary-heap parent: parent(k) = floor((k-1)/2), root 0)
# derived from nation keys. Spark 4's WITH RECURSIVE supports UNION ALL
# recursion only (no dedup fixpoint yet — probed: UNION errors with
# UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the hierarchy must be a
# DAG; depth over 25 nodes is <= 4, far under the engine's iteration
# cap. Each iteration is one small self-join — the same shape an
# org-chart / BOM rollup takes at scale, where the frontier (not the
# full closure) is the per-iteration working set.
_REC_SQL = """WITH RECURSIVE anc(nk, anc_nk, depth) AS (
  SELECT n_nationkey AS nk, n_nationkey AS anc_nk, 0 AS depth
  FROM nation
  UNION ALL
  SELECT r.nk, CAST(floor((r.anc_nk - 1) / 2.0) AS INTEGER) AS anc_nk,
         r.depth + 1 AS depth
  FROM anc r
  WHERE r.anc_nk > 0
)
SELECT a.nk, a.anc_nk, CAST(a.depth AS BIGINT) AS depth,
       n.n_name AS anc_name
FROM anc a JOIN nation n ON a.anc_nk = n.n_nationkey"""


@register("rel_recursive_ancestors", _REC_SQL)
def rel_recursive_ancestors(spark: SparkSession, sf: str) -> DataFrame:
    # distinct view name on the Spark side: the harness shares one
    # session across entries, so don't leave a view shadowing a table
    # name other SQL entries might register
    table(spark, sf, "nation").createOrReplaceTempView("_rec_nation")
    return spark.sql(_REC_SQL.replace(" nation", " _rec_nation"))


# ---------------------------------------------------------------------------
# Dynamic partition pruning — the RUNTIME half of partition pruning
# (rel_partition_pruned_scan covers the static half): the fact side is
# hive-partitioned on event_date; the probe side is a dim whose
# qualifying dates are only known at run time (busiest weekday per
# user-0 cohort here: a deterministic stand-in for "dates in the
# current campaign" dims). Catalyst injects a DynamicPruningExpression
# subquery into the fact scan's PartitionFilters, so only the dim's
# partitions are read — at 100 TB this is the difference between
# scanning 3 days and scanning 3 years. The test pins the
# dynamicpruning marker in the executed plan.
@register(
    "rel_dpp_join",
    """WITH ev AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
         CAST(value AS DECIMAL(18,6)) AS vd
  FROM events),
dim AS (
  SELECT DISTINCT event_date FROM ev
  WHERE extract(day FROM event_date) IN (10, 11, 12))
SELECT e.event_date, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(vd) AS DOUBLE) AS total_value
FROM ev e JOIN dim d ON e.event_date = d.event_date
GROUP BY e.event_date, e.event_type""",
)
def rel_dpp_join(spark: SparkSession, sf: str) -> DataFrame:
    path = _ensure_partitioned_events(spark, sf)
    ev = spark.read.parquet(path)
    dim = (
        ev.where(F.dayofmonth("event_date").isin(10, 11, 12))
        .select("event_date")
        .distinct()
    )
    joined = ev.join(F.broadcast(dim), "event_date")
    return joined.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Pearson correlation + OLS slope/intercept/R² of (event value, props.k)
# per event type — five exact integer moments, then the textbook
# closed forms written ONCE, identically, for both engines:
#   corr  = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − Σx²ᵗ)·sqrt(n·Σy² − Σy²ᵗ))
#   slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²ᵗ),  intercept = ȳ − slope·x̄
def _corr_exprs() -> str:
    # arithmetic text shared by the oracle; the DataFrame side mirrors
    # it expression-for-expression — all operands arrive as
    # exact-int-derived doubles, so evaluation is bit-identical
    cn = "(n * sxy - sx * sy)"
    dx = "(n * sxx - sx * sx)"
    dy = "(n * syy - sy * sy)"
    return f"""round(({cn} / (sqrt({dx}) * sqrt({dy}))) * 1e9) / 1e9 AS corr_vk,
       round(({cn} / {dx}) * 1e9) / 1e9 AS slope,
       round((sy / n - ({cn} / {dx}) * (sx / n)) * 1e9) / 1e9 AS intercept,
       round((({cn} * {cn}) / ({dx} * {dy})) * 1e9) / 1e9 AS r2"""


@register(
    "rel_regression_moments",
    f"""WITH {DUCK_EVENTS},
x AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM ev),
m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(c) AS DOUBLE) AS sx,
         CAST(sum(k) AS DOUBLE) AS sy,
         CAST(sum(c * c) AS DOUBLE) AS sxx,
         CAST(sum(k * k) AS DOUBLE) AS syy,
         CAST(sum(c * k) AS DOUBLE) AS sxy
  FROM x GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       {_corr_exprs()}
FROM m
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0""",
)
def rel_regression_moments(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    x = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c").cast("double").alias("sx"),
        F.sum("k").cast("double").alias("sy"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("sxx"),
        F.sum(F.col("k") * F.col("k")).cast("double").alias("syy"),
        F.sum(F.col("c") * F.col("k")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cn = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    return m.where((dx > 0) & (dy > 0)).select(
        "event_type",
        n.cast("long").alias("n"),
        dblround(cn / (F.sqrt(dx) * F.sqrt(dy)), 9).alias("corr_vk"),
        dblround(cn / dx, 9).alias("slope"),
        dblround(sy / n - (cn / dx) * (sx / n), 9).alias("intercept"),
        dblround((cn * cn) / (dx * dy), 9).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Approx-percentile accuracy contract — the quantile sibling of
# rel_approx_distinct's HLL audit: approx_percentile's rank error is
# bounded by 1/accuracy, so at accuracy=1000 the returned value's true
# rank must lie within n/1000 of the target rank. Both engines agree on
# the exact side and the boolean; the sketch value itself is
# deliberately NOT surfaced (KLL/GK internals differ per engine — the
# CONTRACT is the portable thing). At 100 TB the sketch is the query
# you run (mergeable, one pass, no full sort); the exact percentile
# here is the per-SF audit.
@register(
    "rel_approx_percentile_contract",
    """SELECT l_returnflag,
       count(*) AS n,
       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       true AS approx_ok
FROM lineitem GROUP BY l_returnflag""",
)
def rel_approx_percentile_contract(
    spark: SparkSession, sf: str
) -> DataFrame:
    li = table(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(1000)
        ).alias("approx_p50"),
        F.sort_array(F.collect_list("l_extendedprice")).alias("_sorted"),
    )
    # true rank of the sketch's answer, via binary-search-free exprs:
    # rank error bound = n / accuracy (+1 slack for interpolation of
    # the exact side, which sits between two data ranks). Under TIES
    # the answer's true rank is a SPAN [count(<)+1, count(<=)] — a
    # fully-constant column makes count(<=) = n while the median rank
    # is n/2 (parity_fuzz const profile flipped the old point-rank
    # check to false) — so the contract tests whether the target rank
    # intersects the span, widened by the sketch's rank-error bound.
    below = F.size(
        F.filter(F.col("_sorted"), lambda v: v < F.col("approx_p50"))
    )
    at_or_below = F.size(
        F.filter(F.col("_sorted"), lambda v: v <= F.col("approx_p50"))
    )
    target = F.col("n") / 2
    slack = F.col("n") / 1000 + 1
    ok = (target >= below - slack) & (target <= at_or_below + slack)
    return agg.select(
        "l_returnflag",
        "n",
        "exact_p50",
        ok.alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Window-function family, part 2 — the rank-distribution trio the
# original battery (rel_window_family) leaves out: percent_rank (rank
# position scaled to [0,1]), cume_dist (inclusive CDF), nth_value
# (frame-positional pick). Distribution functions are the feature-
# engineering staple for score normalization. Exactness: both engines
# define percent_rank = (rank-1)/(n-1) and cume_dist = peers≤x / n on
# exact integers; the division is one IEEE op — bit-identical. Same
# single per-supplier window partitioning as part 1 (one shuffle).
@register(
    "rel_window_family2",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
       round((percent_rank() OVER wq) * 1e9) / 1e9 AS qty_pctrank,
       round((cume_dist() OVER wq) * 1e9) / 1e9 AS qty_cumedist,
       nth_value(l_quantity, 3) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_qty
FROM lineitem
WINDOW wq AS (PARTITION BY l_suppkey
              ORDER BY l_quantity, l_orderkey, l_linenumber)""",
)
def rel_window_family2(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = table(spark, sf, "lineitem")
    wq = Window.partitionBy("l_suppkey").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    # l_quantity tiebreak on the positional window (r10 sf0.1 catch —
    # nth_value over a non-total order; wq needs none: percent_rank/
    # cume_dist are RANK-semantics, tie-safe by definition)
    wt = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        dblround(F.percent_rank().over(wq), 9).alias("qty_pctrank"),
        dblround(F.cume_dist().over(wq), 9).alias("qty_cumedist"),
        F.nth_value("l_quantity", 3).over(wt).alias("third_qty"),
    )


# ---------------------------------------------------------------------------
# FULL OUTER join — both-sides-unmatched semantics with coalesce over
# the join key (the reconciliation-report shape: entities present in
# either system). rel_join_family reads inner/left/semi/anti
# off one pass; FULL OUTER is the remaining flavor, and its
# null-extension on BOTH sides is what coalesce(key_l, key_r) exists
# for. Derived sides: per-nation counts of high-balance customers vs
# high-balance suppliers — cardinalities differ per nation, so both
# unmatched directions actually occur on the fixture.
@register(
    "rel_full_outer_family",
    """WITH c AS (
  SELECT c_nationkey AS nk, count(*) AS n_cust
  FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
s AS (
  SELECT s_nationkey AS nk, count(*) AS n_supp
  FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
SELECT coalesce(c.nk, s.nk) AS nationkey,
       CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
       CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp,
       (c.nk IS NOT NULL AND s.nk IS NOT NULL) AS in_both
FROM c FULL OUTER JOIN s ON c.nk = s.nk""",
)
def rel_full_outer_family(spark: SparkSession, sf: str) -> DataFrame:
    cust = (
        table(spark, sf, "customer")
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        table(spark, sf, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = cust.join(supp, cust["c_nk"] == supp["s_nk"], "full_outer")
    return j.select(
        F.coalesce(F.col("c_nk"), F.col("s_nk"))
        .cast("int")
        .alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).cast("long").alias(
            "n_cust"
        ),
        F.coalesce(F.col("n_supp"), F.lit(0)).cast("long").alias(
            "n_supp"
        ),
        (F.col("c_nk").isNotNull() & F.col("s_nk").isNotNull()).alias(
            "in_both"
        ),
    )


# ---------------------------------------------------------------------------
# Collation-aware grouping (Spark 4 collations): case-insensitive
# aggregation via a real UTF8_LCASE collated key — not a lower()
# projection; the collation travels with the type, so joins/sorts/
# distinct downstream inherit the comparison semantics (ICU-backed at
# the engine level, exactly what a multi-source entity table needs).
# Mixed case is derived deterministically (even partkeys upper). The
# surfaced key is lower()ed for cross-engine comparison — the oracle
# mirrors the SEMANTICS with lower() grouping (DuckDB's collation
# dialect differs; results, not internals, are the contract).
@register(
    "rel_collation_ci",
    """SELECT lower(CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                         ELSE lower(p_type) END) AS ptype,
       count(*) AS n,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands
FROM part
GROUP BY ptype""",
)
def rel_collation_ci(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "part").select(
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper("p_type")
        )
        .otherwise(F.lower("p_type"))
        .alias("mixed"),
        "p_brand",
    )
    ci = p.groupBy(
        F.collate(F.col("mixed"), "UTF8_LCASE").alias("k")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("p_brand").cast("long").alias("n_brands"),
    )
    return ci.select(
        F.lower(F.col("k").cast("string")).alias("ptype"), "n", "n_brands"
    )


# ---------------------------------------------------------------------------
# ANSI-safe arithmetic — the try_* family: division that yields NULL
# instead of failing the job on a zero denominator, and casts that
# yield NULL on malformed input. Under ANSI mode (the Spark 4 default)
# the un-prefixed forms THROW — at 100 TB one malformed row must not
# kill a 10-hour job, and try_* is the row-level quarantine that keeps
# the pipeline total. Denominator: count of >100-qty lines (always 0 —
# a real all-NULL division per group); valid ratio alongside.
@register(
    "rel_try_arithmetic",
    f"""SELECT l_returnflag,
       count(*) AS n,
       CASE WHEN sum(CASE WHEN l_quantity > 100 THEN 1 ELSE 0 END) = 0
            THEN NULL
            ELSE CAST(count(*) AS DOUBLE)
                 / sum(CASE WHEN l_quantity > 100 THEN 1 ELSE 0 END)
       END AS per_jumbo,
       {halfup_ratio_duck(
           "count(*)",
           "sum(CASE WHEN l_quantity <= 50 THEN 1 ELSE 0 END)", 9)}
         AS per_normal,
       TRY_CAST('not-a-number' AS BIGINT) AS bad_parse,
       TRY_CAST('42' AS BIGINT) AS good_parse
FROM lineitem
GROUP BY l_returnflag""",
)
def rel_try_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("l_quantity") > 100, 1).otherwise(0)
        ).alias("jumbo"),
        F.sum(
            F.when(F.col("l_quantity") <= 50, 1).otherwise(0)
        ).alias("normal"),
    )
    return g.select(
        "l_returnflag",
        "n",
        F.try_divide(F.col("n").cast("double"), F.col("jumbo")).alias(
            "per_jumbo"
        ),
        # integer-exact HALF_UP ratio; NULL on a zero denominator =
        # the try_divide contract (ROUND8 §12 class; r9 audit — this
        # also retires the latent oracle-inf-vs-NULL mismatch)
        halfup_ratio("n", "normal", 9).alias("per_normal"),
        F.lit("not-a-number").try_cast("bigint").alias("bad_parse"),
        F.lit("42").try_cast("bigint").alias("good_parse"),
    )


# ---------------------------------------------------------------------------
# §2.8 calendar functions — the date-dimension battery the scalar-fn
# entry (s28) left out: month bucketing, month-end, ISO weeks, day
# names, clamped month arithmetic (Jan 31 + 3 months = Apr 30 on both
# engines). Row-level projection keyed by o_orderkey; map-only.
@register(
    "rel_calendar_fns",
    """SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS d,
       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
         AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS week_iso,
       dayname(o_orderdate) AS day_name,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
         AS plus_quarter,
       CAST(last_day(CAST(o_orderdate AS DATE))
            - CAST(o_orderdate AS DATE) AS BIGINT) AS days_to_month_end
FROM orders""",
)
def rel_calendar_fns(spark: SparkSession, sf: str) -> DataFrame:
    d = F.col("o_orderdate").cast("date")
    return table(spark, sf, "orders").select(
        "o_orderkey",
        d.alias("d"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).cast("long").alias("qtr"),
        F.weekofyear(d).cast("long").alias("week_iso"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.add_months(d, 3).alias("plus_quarter"),
        F.datediff(F.last_day(d), d).cast("long").alias(
            "days_to_month_end"
        ),
    )


# ---------------------------------------------------------------------------
# Deterministic mode + exact median per group. The builtin ``mode()``
# is tie-nondeterministic on BOTH engines, so the portable form is the
# argmax-over-counts window with a total order tiebreak (count DESC,
# value ASC) — one extra shuffle on the group key, still
# partial-aggregatable. Median over doubles interpolates the two middle
# values identically on both engines (quantile_cont 0.5).
@register(
    "rel_mode_median",
    """WITH j AS (
  SELECT c_mktsegment AS segment, o_orderpriority AS pri, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey),
counts AS (
  SELECT segment, pri, count(*) AS n FROM j GROUP BY segment, pri),
mode_pick AS (
  SELECT segment, pri AS mode_priority, n AS mode_n,
         row_number() OVER (PARTITION BY segment
                            ORDER BY n DESC, pri ASC) AS rn
  FROM counts),
med AS (
  SELECT segment, quantile_cont(o_totalprice, 0.5) AS median_price
  FROM j GROUP BY segment)
SELECT m.segment, mode_priority, mode_n, median_price
FROM mode_pick m JOIN med ON med.segment = m.segment
WHERE rn = 1""",
)
def rel_mode_median(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    customer = table(spark, sf, "customer")
    j = orders.join(
        F.broadcast(customer),
        orders.o_custkey == customer.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("pri"),
        "o_totalprice",
    )
    counts = j.groupBy("segment", "pri").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("segment").orderBy(
        F.desc("n"), F.asc("pri")
    )
    mode_pick = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "segment",
            F.col("pri").alias("mode_priority"),
            F.col("n").alias("mode_n"),
        )
    )
    med = j.groupBy("segment").agg(
        F.median("o_totalprice").alias("median_price")
    )
    return mode_pick.join(med, "segment")


# ---------------------------------------------------------------------------
# Chi-squared independence cells for lang × source over documents — the
# corpus-drift audit ("is language mix independent of source?"). Output
# is PER CELL (observed, expected, contribution), not the global
# statistic: every value is computed from integer window sums by the
# same two IEEE ops on both engines, so rows hash bit-identically,
# whereas a global Σ over cells would be partial-agg merge-order
# dependent. Consumers sum `contrib` (25-ish cells) themselves. Window
# sums over BIGINT counts are exact; two shuffles total (cell groupBy +
# one window repartition), both over tiny aggregated data.
@register(
    "rel_chi2_cells",
    """WITH cells AS (
  SELECT lang, source, count(*) AS obs
  FROM documents GROUP BY lang, source),
ext AS (
  SELECT lang, source, obs,
         sum(obs) OVER (PARTITION BY lang) AS row_tot,
         sum(obs) OVER (PARTITION BY source) AS col_tot,
         sum(obs) OVER () AS n
  FROM cells)
SELECT lang, source, CAST(obs AS BIGINT) AS obs,
       CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
       (CAST(obs AS DOUBLE)
        - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
       * (CAST(obs AS DOUBLE)
          - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
       / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
         AS contrib
FROM ext""",
)
def rel_chi2_cells(spark: SparkSession, sf: str) -> DataFrame:
    cells = (
        table(spark, sf, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    # grand total via broadcast scalar (BIGINT sum — exact regardless of
    # partial-agg order), not an empty window that would coalesce the
    # frame to one partition
    grand = cells.agg(F.sum("obs").alias("n"))
    ext = cells.select(
        "lang",
        "source",
        "obs",
        F.sum("obs").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("source")).alias("col_tot"),
    ).crossJoin(F.broadcast(grand))
    expected = (F.col("row_tot") * F.col("col_tot")).cast(
        "double"
    ) / F.col("n").cast("double")
    diff = F.col("obs").cast("double") - expected
    return ext.select(
        "lang",
        "source",
        F.col("obs").cast("long").alias("obs"),
        expected.alias("expected"),
        (diff * diff / expected).alias("contrib"),
    )


# ---------------------------------------------------------------------------
# Overlapping-interval merge — islands by interval OVERLAP: each event
# opens a 10-minute interval [ts, ts+10m); consecutive intervals that
# overlap the running frontier (max end seen so far) merge into one
# island. The frontier is a running MAX over a ROWS frame ordered by the
# TOTAL order (ts, event_id) — max is order-insensitive within the
# frame, the total order makes the frame itself deterministic, so both
# engines mark identical island starts. One shuffle on user_id; state
# per user is one row — the same scaling as sessionization.
@register(
    "rel_merge_intervals",
    f"""WITH {DUCK_EVENTS},
iv AS (
  SELECT user_id, event_id, ts,
         ts + INTERVAL 10 MINUTE AS iv_end
  FROM ev),
flagged AS (
  SELECT user_id, event_id, ts, iv_end,
         CASE WHEN max(iv_end) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              >= ts
              THEN 0 ELSE 1 END AS new_island
  FROM iv),
islands AS (
  SELECT user_id, ts, iv_end,
         sum(new_island) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM flagged)
SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
       min(ts) AS island_start, max(iv_end) AS island_end,
       count(*) AS n_events
FROM islands GROUP BY user_id, island_id""",
)
def rel_merge_intervals(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    iv = ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("iv_end"),
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frontier = F.max("iv_end").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(frontier >= F.col("ts"), F.lit(0)).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("ts").alias("island_start"),
        F.max("iv_end").alias("island_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO classification — upsert semantics without a table format.
# A deterministic source batch (every 10th order re-priced +5%, every
# order ≡5 mod 10 resent unchanged, every order ≡7 mod 100 re-keyed
# into a disjoint id space as a pure insert) merged into the target
# (orders): one FULL OUTER pass classifies insert (source-only) /
# update (both, value changed) / unchanged (both, value equal) / noop
# (target-only, untouched). This is exactly the row-matching core that
# Delta/Iceberg MERGE runs before writing; at 100 TB the join
# co-partitions on the merge key and the touched-file set is what the
# formats prune — the DataFrame computes the same action column.
# Parity note: the +5% re-price stays in EXACT decimal (scale-4
# product, never rounded) — a round(x, 2) here would diverge on
# half-cent ties (Spark HALF_UP vs DuckDB's banker-ish decimal round).
_INSERT_SHIFT = 10_000_000


@register(
    "rel_upsert_merge",
    f"""WITH src AS (
  SELECT o_orderkey AS k,
         CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(3,2))
           AS new_price
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,4))
           AS new_price
  FROM orders WHERE o_orderkey % 10 = 5
  UNION ALL
  SELECT o_orderkey + {_INSERT_SHIFT} AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,4))
           AS new_price
  FROM orders WHERE o_orderkey % 100 = 7),
tgt AS (
  SELECT o_orderkey AS k,
         CAST(o_totalprice AS DECIMAL(18,2)) AS old_price
  FROM orders),
m AS (
  SELECT coalesce(src.k, tgt.k) AS k, new_price, old_price,
         CASE WHEN tgt.k IS NULL THEN 'insert'
              WHEN src.k IS NULL THEN 'noop'
              WHEN new_price <> old_price THEN 'update'
              ELSE 'unchanged' END AS action
  FROM src FULL OUTER JOIN tgt ON src.k = tgt.k)
SELECT action, count(*) AS n_rows,
       CAST(sum(CAST(coalesce(new_price, old_price) AS DECIMAL(24,4))
                ) AS DOUBLE) AS merged_value
FROM m GROUP BY action""",
)
def rel_upsert_merge(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    updates = orders.where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        (price_dec * F.lit("1.05").cast("decimal(3,2)")).alias(
            "new_price"
        ),
    )
    resend = orders.where(F.col("o_orderkey") % 10 == 5).select(
        F.col("o_orderkey").alias("k"),
        price_dec.cast("decimal(21,4)").alias("new_price"),
    )
    inserts = orders.where(F.col("o_orderkey") % 100 == 7).select(
        (F.col("o_orderkey") + _INSERT_SHIFT).alias("k"),
        price_dec.cast("decimal(21,4)").alias("new_price"),
    )
    src = updates.unionByName(resend).unionByName(inserts)
    tgt = orders.select(
        F.col("o_orderkey").alias("k"),
        price_dec.alias("old_price"),
    )
    m = src.join(tgt, "k", "full_outer").select(
        "k",
        "new_price",
        "old_price",
        F.when(F.col("old_price").isNull(), "insert")
        .when(F.col("new_price").isNull(), "noop")
        .when(F.col("new_price") != F.col("old_price"), "update")
        .otherwise("unchanged")
        .alias("action"),
    )
    return m.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.coalesce("new_price", "old_price").cast("decimal(24,4)")
        )
        .cast("double")
        .alias("merged_value"),
    )


# ---------------------------------------------------------------------------
# Median absolute deviation — robust spread per group: MAD = median of
# |x − median(x)|. Two grouped exact-median passes (the first median
# joins back onto the rows); the interpolation arithmetic ((a+b)/2 on
# doubles) is identical on both engines, and |x − med| is one exact
# IEEE subtract. The right measure when l_extendedprice outliers would
# swamp a stddev; at 100 TB each pass is one grouped percentile
# (sort-based within group), and the approx_percentile contract entry
# is the sketch-based fallback when exactness can be traded.
@register(
    "rel_mad_robust",
    """WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med_price
  FROM lineitem GROUP BY l_returnflag)
SELECT l.l_returnflag, count(*) AS n, med_price,
       quantile_cont(abs(l.l_extendedprice - med_price), 0.5) AS mad_price
FROM lineitem l JOIN med ON med.l_returnflag = l.l_returnflag
GROUP BY l.l_returnflag, med_price""",
)
def rel_mad_robust(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("med_price")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med_price")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.median(
                F.abs(F.col("l_extendedprice") - F.col("med_price"))
            ).alias("mad_price"),
        )
        .select("l_returnflag", "n", "med_price", "mad_price")
    )


# ---------------------------------------------------------------------------
# Bag-semantics set ops — intersectAll/exceptAll keep DUPLICATE
# multiplicities (per value: min(m_a, m_b) copies, resp. max(0,
# m_a − m_b)), where rel_set_ops covers the distinct forms. The oracle
# states the multiplicity arithmetic directly (engine-independent
# ground truth for what ALL-variants must produce); the Spark side runs
# the actual intersectAll/exceptAll operators and re-aggregates. Both
# compile to one count-aggregate per side plus a join — bag set ops at
# 100 TB are exactly as expensive as the grouped counts they reduce to.
@register(
    "rel_set_ops_all",
    """WITH a AS (
  SELECT o_orderpriority AS pri, count(*) AS m
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority),
b AS (
  SELECT o_orderpriority AS pri, count(*) AS m
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority)
SELECT 'intersect_all' AS tag, a.pri, least(a.m, b.m) AS n
FROM a JOIN b ON a.pri = b.pri
WHERE least(a.m, b.m) > 0
UNION ALL
SELECT 'except_all' AS tag, a.pri,
       a.m - coalesce(b.m, 0) AS n
FROM a LEFT JOIN b ON a.pri = b.pri
WHERE a.m - coalesce(b.m, 0) > 0""",
)
def rel_set_ops_all(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("pri")
    )
    b = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("pri")
    )
    inter = (
        a.intersectAll(b)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("tag"), "pri", "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("tag"), "pri", "n")
    )
    return inter.unionByName(exc)


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier): parts no other part dominates, where q
# dominates p iff q is no pricier AND no smaller, strictly better in at
# least one. The ORACLE states the quadratic NOT EXISTS definition; the
# Spark side computes the same set LINEARLY — group to price levels
# (partial-agg max size per price), one running-max window over the
# (small) level table ordered by price, then a broadcast join back:
# p survives iff no strictly-cheaper level reaches its size and its own
# level's max doesn't strictly beat it. At 100 TB the level table after
# the partial agg is |distinct prices| — if that is still huge, the
# sweep range-partitions by price and propagates per-partition prefix
# maxima (the running-total pattern); the fixture's level table fits one
# window.
@register(
    "rel_skyline",
    """SELECT p_partkey, p_retailprice AS price, p_size AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))""",
)
def rel_skyline(spark: SparkSession, sf: str) -> DataFrame:
    part = table(spark, sf, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    levels = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("lvl_max")
    )
    prev = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    levels = levels.withColumn("prev_max", F.max("lvl_max").over(prev))
    joined = part.join(F.broadcast(levels), "p_retailprice")
    dominated = (
        F.coalesce(F.col("prev_max"), F.lit(-1)) >= F.col("p_size")
    ) | (F.col("lvl_max") > F.col("p_size"))
    return joined.where(~dominated).select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches — the sketch lifecycle that actually runs at
# 100 TB: each shard (nation here) builds its own DataSketches HLL
# sketch (`hll_sketch_agg`), the sketches union associatively
# (`hll_union_agg`) WITHOUT re-reading the data, and the merged estimate
# answers the global distinct-count question. The contract pins BOTH the
# merged-estimate and the single-pass global-estimate to ±5% of the
# exact count (default lgConfigK=12 ⇒ ~1.6% standard error; the two
# estimates may differ from each other — sparse-mode promotion during
# union is representation-dependent — so each is pinned to the exact
# count, not to the other). The oracle computes the exact count and
# pins the booleans.
@register(
    "rel_hll_sketch_merge",
    """SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_shards,
       count(DISTINCT c_custkey) AS exact_users,
       true AS merged_ok, true AS global_ok
FROM customer""",
)
def rel_hll_sketch_merge(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").select("c_nationkey", "c_custkey")
    shards = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    merged = shards.agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est"),
    )
    glob = c.agg(
        F.count_distinct("c_custkey").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey")).alias(
            "global_est"
        ),
    )
    tol = 0.05
    return merged.crossJoin(F.broadcast(glob)).select(
        "n_shards",
        "exact_users",
        (
            F.abs(F.col("merged_est") - F.col("exact_users"))
            <= tol * F.col("exact_users")
        ).alias("merged_ok"),
        (
            F.abs(F.col("global_est") - F.col("exact_users"))
            <= tol * F.col("exact_users")
        ).alias("global_ok"),
    )


# ---------------------------------------------------------------------------
# Runtime bloom-filter join — Catalyst's InjectRuntimeFilter: the
# selective orders dim builds a bloom filter over o_orderkey
# (bloom_filter_agg subquery), and the lineitem scan applies
# might_contain(l_orderkey) BEFORE its shuffle, so non-qualifying fact
# rows never cross the wire — the row-level sibling of DPP
# (rel_dpp_join). The rule only fires for probably-shuffle joins, so
# the entry opens a conf window (auto-broadcast off, application-side
# scan threshold 0 — at 100 TB the 10 GiB default passes on its own and
# the join shuffles naturally; the window only recreates those
# conditions at fixture scale), materializes via eager localCheckpoint
# INSIDE the window, and restores every conf — later catalog entries
# plan under default settings. The unit test pins ``might_contain`` in
# the optimized plan; parity pins the result against the plain join.
_BLOOM_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter"
    ".applicationSideScanSizeThreshold": "0",
}


def _bloom_plan(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    dim = o.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 200000)
    ).select("o_orderkey")
    joined = li.join(dim, li["l_orderkey"] == dim["o_orderkey"])
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "rel_bloom_runtime_filter",
    """SELECT l_returnflag, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
GROUP BY l_returnflag""",
)
def rel_bloom_runtime_filter(spark: SparkSession, sf: str) -> DataFrame:
    prev = {
        k: (spark.conf.get(k) if spark.conf.isModifiable(k) else None)
        for k in _BLOOM_CONFS
    }
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        # Eager: the plan must be compiled AND executed inside the conf
        # window for the runtime filter to be injected.
        return _bloom_plan(spark, sf).localCheckpoint(eager=True)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Running distinct-user count per event type — "how many unique users
# had we seen as of each event". Spark (and most engines) reject
# count(DISTINCT) OVER; the scalable equivalent is the first-occurrence
# flag (row_number over (type, user) == 1) summed over the event-time
# running frame. Both engines state the SAME construction over the SAME
# total order (ts, event_id), so the result is deterministic — and the
# window state is one counter per partition instead of a distinct-set
# per row, which is what makes it viable at 100 TB (the naive
# collect_set-over-window holds every user id in every row's frame).
@register(
    "rel_window_distinct_running",
    f"""WITH {DUCK_EVENTS},
flagged AS (
  SELECT event_type, event_id, ts,
         CASE WHEN row_number() OVER (
                PARTITION BY event_type, user_id
                ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM ev)
SELECT event_type, event_id,
       CAST(sum(first_seen) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS distinct_users_so_far
FROM flagged""",
)
def rel_window_distinct_running(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    first_w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    running_w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.when(F.row_number().over(first_w) == 1, 1)
        .otherwise(0)
        .alias("first_seen"),
    )
    return flagged.select(
        "event_type",
        "event_id",
        F.sum("first_seen")
        .over(running_w)
        .cast("long")
        .alias("distinct_users_so_far"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join — the storage-level answer to "this join
# runs every hour on 100 TB": write BOTH sides bucketed on the join key
# (8 buckets here; thousands at scale), and every future join on that
# key plans as SortMergeJoin over matching bucket files with NO
# Exchange on either side — the shuffle is paid once at write time,
# then amortized over every recurring read. The entry builds the
# bucketed tables once per fixture generation (cache keyed on the
# source parquet's identity), joins them under a no-broadcast conf
# window (so the bucket path, not a broadcast, carries the join at
# fixture scale), and restores confs after an eager materialization.
# The unit test pins "no Exchange below the join"; parity pins values
# against the plain join.
_BUCKETS = 8


def _bucketed_table(
    spark: SparkSession, sf: str, name: str, key: str
) -> str:
    tag = hashlib.md5(_source_tag(sf, name).encode()).hexdigest()[:10]
    tbl = f"ade_bkt_{name}_{tag}"
    if not spark.catalog.tableExists(tbl):
        import tempfile

        path = os.path.join(tempfile.gettempdir(), f"{tbl}_data")
        (
            table(spark, sf, name)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(tbl)
        )
    return tbl


def _bucketed_join_plan(spark: SparkSession, sf: str) -> DataFrame:
    o_tbl = _bucketed_table(spark, sf, "orders", "o_orderkey")
    li_tbl = _bucketed_table(spark, sf, "lineitem", "l_orderkey")
    o = spark.table(o_tbl).select("o_orderkey", "o_orderpriority")
    li = spark.table(li_tbl).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,6)"))
            ).cast("decimal(24,8)")
        )
        .cast("double")
        .alias("revenue"),
    )


_NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@register(
    "rel_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n_items,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,6)))
                     AS DECIMAL(24,8))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority""",
)
def rel_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    prev = {k: spark.conf.get(k) for k in _NO_BROADCAST}
    for k, v in _NO_BROADCAST.items():
        spark.conf.set(k, v)
    try:
        return _bucketed_join_plan(spark, sf).localCheckpoint(eager=True)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Ordered string aggregation — listagg WITHIN GROUP (Spark 4) ≡
# string_agg(... ORDER BY) (DuckDB/Postgres). The WITHIN GROUP order is
# the whole point: without it both engines produce partition-order
# concatenations that differ run to run. s_name is unique per nation so
# the (s_name) order is total. One hash aggregate; the sort is per-group
# over grouped rows, not a global sort.
@register(
    "rel_string_agg",
    """SELECT s_nationkey AS nationkey,
       count(*) AS n_suppliers,
       string_agg(s_name, ',' ORDER BY s_name) AS supplier_list
FROM supplier GROUP BY s_nationkey""",
)
def rel_string_agg(spark: SparkSession, sf: str) -> DataFrame:
    sup = table(spark, sf, "supplier").select("s_nationkey", "s_name")
    return sup.groupBy(
        F.col("s_nationkey").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.expr(
            "listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)"
        ).alias("supplier_list"),
    )


# ---------------------------------------------------------------------------
# Exact skewness / kurtosis — the builtins stream Welford-style central
# moments whose double accumulation is merge-order-dependent; the
# engine-exact form aggregates raw power sums Σx..Σx⁴ in DECIMAL
# (order-insensitive, l_quantity ≤ 50 so x⁴ ≤ 6.25e6 — no overflow at
# any SF in DECIMAL(38,8)), then evaluates ONE double formula per group
# in an identical operation order on both engines. Same discipline as
# rel_regression_moments, extended to the 3rd/4th moments.
# Shared verbatim by the Spark selectExpr AND the DuckDB oracle, so the
# degenerate-group guards are portable SQL, not engine builtins:
# greatest(var, 0) clamps the tiny-negative variance FP cancellation can
# produce (pow(neg, 1.5) errors on DuckDB, NaNs on Spark), and
# nullif(denom, 0) turns a zero-variance group (e.g. a single row) into
# NULL moments on BOTH engines instead of aborting Spark's ANSI divide.
# Values are unchanged wherever the variance is strictly positive.
_MOMENT_FORMULAS = """
  CAST(n AS BIGINT) AS n_items,
  round((s1d / n) * 1e9) / 1e9 AS mean_qty,
  round(((s3d/n - 3*(s1d/n)*(s2d/n) + 2*(s1d/n)*(s1d/n)*(s1d/n))
        / nullif(pow(greatest(s2d/n - (s1d/n)*(s1d/n), 0.0), 1.5), 0.0))
        * 1e9) / 1e9 AS skewness_qty,
  round(((s4d/n - 4*(s1d/n)*(s3d/n) + 6*(s1d/n)*(s1d/n)*(s2d/n)
         - 3*(s1d/n)*(s1d/n)*(s1d/n)*(s1d/n))
        / nullif(pow(greatest(s2d/n - (s1d/n)*(s1d/n), 0.0), 2.0), 0.0)
        - 3.0) * 1e9) / 1e9 AS kurtosis_qty
"""


@register(
    "rel_higher_moments",
    f"""WITH sums AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS s1d,
         CAST(sum(CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS s2d,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(38,6)))
              AS DOUBLE) AS s3d,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2))
                  * CAST(l_quantity AS DECIMAL(10,2)) AS DECIMAL(38,8)))
              AS DOUBLE) AS s4d
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, {_MOMENT_FORMULAS}
FROM sums""",
)
def rel_higher_moments(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    qd = F.col("l_quantity").cast("decimal(10,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(qd).cast("double").alias("s1d"),
        F.sum(qd * qd).cast("double").alias("s2d"),
        F.sum((qd * qd * qd).cast("decimal(38,6)"))
        .cast("double")
        .alias("s3d"),
        F.sum((qd * qd * qd * qd).cast("decimal(38,8)"))
        .cast("double")
        .alias("s4d"),
    )
    return sums.selectExpr("l_returnflag", *_MOMENT_FORMULAS.split(",\n"))


_MV_SPLIT = "2024-01-20"


# ---------------------------------------------------------------------------
# Incremental MV maintenance — the nightly pattern: the MV over history
# (ts < split) is already materialized; today's delta (ts >= split)
# aggregates alone, and the new MV is a per-key MERGE of the two states
# (full outer join, coalesce-sum). This is only correct because the
# state is mergeable — count and DECIMAL sum are; avg/median are not
# (they must be derived from mergeable parts, as here: the final avg
# divides the merged sum once). The oracle recomputes from scratch, so
# parity IS the merge-equals-recompute theorem instance. At 100 TB the
# delta is 3 orders of magnitude smaller than the history — this is the
# difference between a 5-minute and a 10-hour nightly job.
@register(
    "rel_incremental_mv",
    f"""WITH {DUCK_EVENTS}
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       {halfup_mean_duck("sum(CAST(value AS DECIMAL(18,6)))",
                         "count(*)", 9)} AS avg_value
FROM ev GROUP BY event_type""",
)
def rel_incremental_mv(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).select(
        "event_type",
        "ts",
        F.col("value").cast("decimal(18,6)").alias("vd"),
    )
    split = F.lit(_MV_SPLIT).cast("timestamp")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vd").alias("s"),
        )

    base = state(ev.where(F.col("ts") < split))
    delta = state(ev.where(F.col("ts") >= split))
    merged = (
        base.alias("b")
        .join(
            delta.alias("d"),
            F.col("b.event_type") == F.col("d.event_type"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("b.s"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("d.s"), F.lit(0).cast("decimal(18,6)"))
            ).alias("s"),
        )
    )
    # avg_value is a round(sum/count) mean over an exact-decimal fold —
    # integer-exact HALF_UP (ROUND8 §12 class; r9 audit catch)
    return merged.select(
        "event_type",
        "n_events",
        F.col("s").cast("double").alias("total_value"),
        halfup_mean("s", "n_events", 9).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join — compose the rel_scd2_history construction
# (click events as attribute versions with [valid_from, valid_to)
# intervals) with the purchase fact stream: each purchase joins the
# version valid at ITS timestamp. The interval set partitions time per
# user, so at most one version matches — the join is 1:≤1 by
# construction, and purchases before any version null-extend. At 100 TB
# this runs as the as-of family (sort-merge within user partitions,
# rel_asof_join / rel_asof_cogrouped); the range-predicate join here is
# the oracle-exact statement of the same semantics.
@register(
    "rel_scd2_pit_join",
    f"""WITH {duck_ev('value')},
dim AS (
  SELECT user_id, value AS attr_value, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT)
           AS version
  FROM ev WHERE event_type = 'click'),
facts AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM ev WHERE event_type = 'purchase')
SELECT f.purchase_id, f.user_id,
       d.version AS attr_version,
       round(CAST(d.attr_value AS DOUBLE) * 1e9) / 1e9 AS attr_value
FROM facts f LEFT JOIN dim d
  ON d.user_id = f.user_id
 AND d.valid_from <= f.p_ts
 AND (d.valid_to IS NULL OR f.p_ts < d.valid_to)""",
)
def rel_scd2_pit_join(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from .catalog import events_table

    ev = events_table(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "value", "ts", "event_id")
        .select(
            F.col("user_id").alias("d_user"),
            F.col("value").alias("attr_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version"),
        )
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("d_user") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("p_ts"))
        & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to")))
    )
    return facts.join(dim, cond, "left").select(
        "purchase_id",
        "user_id",
        F.col("version").alias("attr_version"),
        dblround(F.col("attr_value").cast("double"), 9).alias(
            "attr_value"
        ),
    )


# ---------------------------------------------------------------------------
# Longest consecutive-day streak — islands where the key is DATE
# ADJACENCY: within a user, consecutive distinct active days with no
# calendar gap form a streak; report each user's longest. The classic
# identity: date - (dense day index) is constant within a streak — one
# distinct, one user-partitioned window, one aggregate; no self-join.
# date arithmetic is exact on both engines (no timezone: dates derive
# from the UTC-pinned timestamps).
@register(
    "rel_longest_streak",
    f"""WITH {DUCK_EVENTS},
days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM ev),
marked AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS grp
  FROM days),
streaks AS (
  SELECT user_id, grp, count(*) AS len_days, min(d) AS streak_start
  FROM marked GROUP BY user_id, grp),
ranked AS (
  SELECT user_id, len_days, streak_start,
         max(len_days) OVER (PARTITION BY user_id) AS best
  FROM streaks)
SELECT user_id,
       CAST(max(len_days) AS BIGINT) AS longest_streak,
       min(CASE WHEN len_days = best THEN streak_start END)
         AS first_best_start
FROM ranked GROUP BY user_id""",
)
def rel_longest_streak(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("d")
    )
    marked = days.withColumn("grp", F.date_sub(F.col("d"), rn))
    streaks = marked.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len_days"),
        F.min("d").alias("streak_start"),
    )
    best = Window.partitionBy("user_id")
    return (
        streaks.withColumn("best", F.max("len_days").over(best))
        .groupBy("user_id")
        .agg(
            F.max("len_days").cast("long").alias("longest_streak"),
            F.min(
                F.when(
                    F.col("len_days") == F.col("best"),
                    F.col("streak_start"),
                )
            ).alias("first_best_start"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket pair counts — the support-counting primitive of
# frequent-itemset mining: for every order, each unordered pair of
# DISTINCT part brands bought together counts once; report the top-15
# pairs by support. Pair generation is a within-order self-join on the
# deduplicated basket (a < b cuts mirror pairs), so work is
# Σ basket_size² per ORDER — bounded by the basket, never a corpus-wide
# self-join; the final top-15 is TakeOrderedAndProject with a (pair)
# total-order tiebreak so both engines cut the same tail.
@register(
    "rel_basket_pairs",
    """WITH basket AS (
  SELECT DISTINCT l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand)
SELECT brand_a, brand_b, count(*) AS support
FROM pairs GROUP BY brand_a, brand_b
ORDER BY support DESC, brand_a, brand_b LIMIT 15""",
)
def rel_basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.p_brand") < F.col("b.p_brand")),
    ).select(
        F.col("a.p_brand").alias("brand_a"),
        F.col("b.p_brand").alias("brand_b"),
    )
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(
            F.col("support").desc(), "brand_a", "brand_b"
        )
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram — deciles by ntile over a TOTAL order
# (o_totalprice, o_orderkey): each bucket holds ⌈n/10⌉±1 rows and the
# bucket BOUNDS are the data summary (the complement of
# rel_value_histogram's fixed-width buckets, and what an optimizer's
# histogram statistics actually store). The total order makes ntile
# deterministic across engines; the global window is the fixture-scale
# form — at 100 TB the same summary comes from approx_percentile
# boundaries (contract-checked by rel_approx_percentile_contract).
@register(
    "rel_equidepth_hist",
    """WITH t AS (
  SELECT o_totalprice, o_orderkey,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders)
SELECT CAST(decile AS INT) AS decile, count(*) AS n_orders,
       CAST(min(o_totalprice) AS DOUBLE) AS lo,
       CAST(max(o_totalprice) AS DOUBLE) AS hi
FROM t GROUP BY decile""",
)
def rel_equidepth_hist(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranking import global_ntile

    orders = table(spark, sf, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    # deciles over EVERY order row — unbounded global rank, so the
    # distributed exact ntile rather than a partition-less window
    t = global_ntile(
        orders, 10, ["o_totalprice", "o_orderkey"], bucket_col="decile"
    )
    return t.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution — the interval join (purchase ←
# trailing-hour views, stream_interval_join's shape) extended with
# credit assignment: each purchase's value splits 1/n across its n
# touching views, and per-view credit sums across purchases. Division
# creates non-terminating decimals, so each share is round(·,9)-
# quantized BEFORE the DECIMAL sum — the one rounding point both
# engines state identically (the EWMA/trigram discipline). Views that
# touched no purchase simply don't appear; purchases with no views keep
# their value unattributed (reported in the unit test, not this
# per-view frame).
@register(
    "rel_multitouch_attribution",
    f"""WITH {duck_ev('value')},
v AS (SELECT user_id, ts AS v_ts, event_id AS view_id FROM ev
      WHERE event_type = 'view'),
p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_id,
             CAST(value AS DECIMAL(18,6)) AS pv
      FROM ev WHERE event_type = 'purchase'),
j AS (
  SELECT p.purchase_id, p.pv, v.view_id,
         count(*) OVER (PARTITION BY p.purchase_id) AS n_touch
  FROM p JOIN v ON v.user_id = p.user_id
   AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR),
credits AS (
  SELECT view_id,
         CAST({halfup_mean_duck("pv", "n_touch", 9)} AS DECIMAL(20,9))
           AS credit
  FROM j)
SELECT view_id, count(*) AS n_conversions,
       CAST(sum(credit) AS DOUBLE) AS credit_total
FROM credits GROUP BY view_id""",
)
def rel_multitouch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = events_table(spark, sf)
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").cast("decimal(18,6)").alias("pv"),
    )
    cond = (
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    j = p.join(v, cond).withColumn(
        "n_touch",
        F.count(F.lit(1)).over(Window.partitionBy("purchase_id")),
    )
    # the 1/n share is a round(value/count) quotient — integer-exact
    # HALF_UP before the decimal fold (ROUND8 §12 class; r9 audit catch)
    credits = j.select(
        "view_id",
        halfup_mean("pv", "n_touch", 9)
        .cast("decimal(20,9)")
        .alias("credit"),
    )
    return credits.groupBy("view_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum("credit").cast("double").alias("credit_total"),
    )


# ---------------------------------------------------------------------------
# Local-timezone rollup — facts land in UTC; the business reports on
# America/New_York local days, so the day boundary moves 5 hours into
# the previous UTC evening. Spark: from_utc_timestamp → local wall
# clock; DuckDB: naive-UTC → timestamptz → timezone() wall clock — two
# different APIs stating the same IANA conversion, which is exactly
# what the parity check certifies. The fixture's January window has no
# DST transition (noted); the conversion path is the one that handles
# it, and the tzdb is pinned by the runtimes on both sides.
_REPORT_TZ = "America/New_York"


@register(
    "rel_local_time_rollup",
    f"""WITH {duck_ev('value')},
loc AS (
  SELECT CAST(timezone('{_REPORT_TZ}',
              CAST(ts AS TIMESTAMPTZ)) AS DATE) AS local_date,
         event_type,
         CAST(value AS DECIMAL(18,6)) AS vd
  FROM ev)
SELECT local_date, event_type, count(*) AS n_events,
       CAST(sum(vd) AS DOUBLE) AS total_value
FROM loc GROUP BY local_date, event_type""",
)
def rel_local_time_rollup(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    loc = ev.select(
        F.to_date(
            F.from_utc_timestamp("ts", _REPORT_TZ)
        ).alias("local_date"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("vd"),
    )
    return loc.groupBy("local_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vd").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation — daily click/view value totals per day, then a
# 7-day trailing Pearson correlation AT each day. The builtin corr()
# over a window would fold doubles in frame order (stable, but its
# variance form differs between engines); instead the frame aggregates
# exact DECIMAL power sums (Σx, Σy, Σx², Σy², Σxy over the ≤7 daily
# pairs) and ONE double formula per row converts them — windowed
# rel_regression_moments. Daily totals are exact decimals; rows with
# <2 frame days or zero variance yield NULL via nullif, identically on
# both engines.
@register(
    "rel_rolling_corr",
    f"""WITH {duck_ev('value')},
daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CASE WHEN event_type = 'click'
                       THEN CAST(value AS DECIMAL(18,6)) END)
              AS DECIMAL(14,6)) AS cx,
         CAST(sum(CASE WHEN event_type = 'view'
                       THEN CAST(value AS DECIMAL(18,6)) END)
              AS DECIMAL(14,6)) AS vy
  FROM ev GROUP BY d),
pairs AS (SELECT d, cx, vy FROM daily
          WHERE cx IS NOT NULL AND vy IS NOT NULL),
framed AS (
  SELECT d,
         CAST(count(*) OVER w AS DOUBLE) AS n,
         CAST(sum(cx) OVER w AS DOUBLE) AS sx,
         CAST(sum(vy) OVER w AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(cx AS DECIMAL(19,6)) * CAST(cx AS DECIMAL(19,6)) AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sxx,
         CAST(sum(CAST(CAST(vy AS DECIMAL(19,6)) * CAST(vy AS DECIMAL(19,6)) AS DECIMAL(38,12))) OVER w AS DOUBLE) AS syy,
         CAST(sum(CAST(CAST(cx AS DECIMAL(19,6)) * CAST(vy AS DECIMAL(19,6)) AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sxy
  FROM pairs
  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT d, CAST(n AS BIGINT) AS n_days,
       round(((sxy - sx * sy / n)
             / nullif(sqrt(greatest(sxx - sx * sx / n, 0.0)
                           * greatest(syy - sy * sy / n, 0.0)),
                      0.0)) * 1e9) / 1e9 AS corr_7d
FROM framed""",
)
def rel_rolling_corr(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    vd = F.col("value").cast("decimal(18,6)")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", vd))
        .cast("decimal(14,6)")
        .alias("cx"),
        F.sum(F.when(F.col("event_type") == "view", vd))
        .cast("decimal(14,6)")
        .alias("vy"),
    )
    pairs = daily.where(
        F.col("cx").isNotNull() & F.col("vy").isNotNull()
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    framed = pairs.select(
        "d",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("cx").over(w).cast("double").alias("sx"),
        F.sum("vy").over(w).cast("double").alias("sy"),
        F.sum((F.col("cx") * F.col("cx")).cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("vy") * F.col("vy")).cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("syy"),
        F.sum((F.col("cx") * F.col("vy")).cast("decimal(38,12)"))
        .over(w)
        .cast("double")
        .alias("sxy"),
    )
    # greatest(·, 0): FP cancellation in E[x²]−E[x]² can go a hair
    # NEGATIVE when a variance is truly ~0 — unclamped, DuckDB's sqrt
    # ERRORS on the negative product while Spark's returns NaN
    # (parity_fuzz, random profile). Clamping each factor identically
    # on both engines turns the degenerate window into NULL via the
    # existing nullif, and is value-neutral wherever variance > 0.
    corr = (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ) / F.nullif(
        F.sqrt(
            F.greatest(
                F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
                F.lit(0.0),
            )
            * F.greatest(
                F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"),
                F.lit(0.0),
            )
        ),
        F.lit(0.0),
    )
    return framed.select(
        "d",
        F.col("n").cast("long").alias("n_days"),
        dblround(corr, 9).alias("corr_7d"),
    )


# ---------------------------------------------------------------------------
# Time-to-convert — per purchase, seconds since the SAME user's nearest
# preceding view (unbounded lookback: the as-of join), rolled up into
# exact latency quartiles per user cohort (user_id % 4 here as the
# deterministic cohort stand-in). The as-of is a last_value window over
# the unioned event stream — one user-partitioned window, no range
# join; purchases with no prior view drop out (count them upstream, not
# here). Latency is integer seconds (exact); percentile interpolation
# halves are exact binary fractions.
@register(
    "rel_time_to_convert",
    f"""WITH {duck_ev('value')},
tagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'view' THEN ts END AS view_ts
  FROM ev WHERE event_type IN ('view', 'purchase')),
filled AS (
  SELECT user_id, ts, event_id, event_type,
         max(view_ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS last_view_ts
  FROM tagged),
lat AS (
  SELECT CAST(user_id % 4 AS INT) AS cohort,
         CAST(date_diff('second', last_view_ts, ts) AS BIGINT) AS sec
  FROM filled
  WHERE event_type = 'purchase' AND last_view_ts IS NOT NULL)
SELECT cohort, count(*) AS n_conversions,
       quantile_cont(CAST(sec AS DOUBLE), 0.25) AS p25_sec,
       quantile_cont(CAST(sec AS DOUBLE), 0.5) AS p50_sec,
       quantile_cont(CAST(sec AS DOUBLE), 0.75) AS p75_sec
FROM lat GROUP BY cohort""",
)
def rel_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    tagged = ev.where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias(
            "view_ts"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn(
        "last_view_ts", F.max("view_ts").over(w)
    )
    lat = filled.where(
        (F.col("event_type") == "purchase")
        & F.col("last_view_ts").isNotNull()
    ).select(
        (F.col("user_id") % 4).cast("int").alias("cohort"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("last_view_ts")
        ).alias("sec"),
    )
    return lat.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.percentile(F.col("sec").cast("double"), F.lit(0.25)).alias(
            "p25_sec"
        ),
        F.percentile(F.col("sec").cast("double"), F.lit(0.5)).alias(
            "p50_sec"
        ),
        F.percentile(F.col("sec").cast("double"), F.lit(0.75)).alias(
            "p75_sec"
        ),
    )


# ---------------------------------------------------------------------------
# Per-group quantile normalization — map each document's length to its
# quantile position within its source: (rank − 1) / (n − 1) over the
# (n_chars, doc_id) TOTAL order, stated as explicit row_number/count
# arithmetic on both engines (percent_rank's tie semantics never enter:
# the total order has no ties). Rank-based rescaling survives arbitrary
# monotone distortions of the raw score — why cross-batch quality
# calibration uses it. The windows are per-SOURCE (parallel), not
# global; single-doc groups pin 0 via the nullif guard.
@register(
    "rel_quantile_normalize",
    f"""WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars NULLS FIRST, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents)
SELECT doc_id, source,
       {halfup_ratio_duck("rn - 1", "n - 1", 9)} AS len_quantile
FROM r""",
)
def rel_quantile_normalize(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    # explicit NULLS FIRST — Spark's asc default, DuckDB's is
    # NULLS LAST (edge-fuzz NULL-text catch, r9)
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc_nulls_first(), "doc_id"
    )
    cw = Window.partitionBy("source")
    r = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    return r.select(
        "doc_id",
        "source",
        halfup_ratio("rn - 1", "n - 1", 9).alias("len_quantile"),
    )


# ---------------------------------------------------------------------------
# Event transition matrix — lag(event_type) over each user's
# (ts, event_id) total order gives the bigram stream; counting (prev →
# next) pairs and row-normalizing estimates the first-order Markov
# kernel. One user-partitioned window + one aggregate — the same
# shuffle budget as sessionization. The probability divides two exact
# integers once, round(·,9) on both engines.
@register(
    "rel_event_transitions",
    f"""WITH {duck_ev()},
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM ev),
bi AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type),
tot AS (
  SELECT prev_type, sum(n) AS row_total FROM bi GROUP BY prev_type)
SELECT bi.prev_type, bi.next_type, CAST(bi.n AS BIGINT) AS n_transitions,
       {halfup_ratio_duck("bi.n", "tot.row_total", 9)}
         AS p_transition
FROM bi JOIN tot ON tot.prev_type = bi.prev_type""",
)
def rel_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    bi = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = bi.groupBy("prev_type").agg(
        F.sum("n").alias("row_total")
    )
    return bi.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n_transitions"),
        # integer-exact HALF_UP ratio (ROUND8 §12 class; r9 audit)
        halfup_ratio("n", "row_total", 9).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# Nearest-event join — per purchase, the temporally closest view by
# the SAME user in EITHER direction. Stated as the union of the two
# as-of directions (running max of view times = nearest before;
# running min over the reversed frame = nearest after), then one
# CASE picks the smaller absolute gap — ties break toward the earlier
# (before) candidate, deterministically on both engines. Two windows
# over one user-partitioned sort; no range join, no self-join.
@register(
    "rel_nearest_event_join",
    f"""WITH {duck_ev()},
tagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'view' THEN ts END AS view_ts
  FROM ev WHERE event_type IN ('view', 'purchase')),
filled AS (
  SELECT user_id, ts, event_id, event_type,
         max(view_ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS before_ts,
         min(view_ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING) AS after_ts
  FROM tagged),
pur AS (
  SELECT event_id AS purchase_id, user_id, ts, before_ts, after_ts
  FROM filled WHERE event_type = 'purchase'
    AND (before_ts IS NOT NULL OR after_ts IS NOT NULL))
SELECT purchase_id, user_id,
       CASE WHEN after_ts IS NULL THEN 'before'
            WHEN before_ts IS NULL THEN 'after'
            WHEN date_diff('second', before_ts, ts)
                 <= date_diff('second', ts, after_ts) THEN 'before'
            ELSE 'after' END AS direction,
       CAST(CASE WHEN after_ts IS NULL
                 THEN date_diff('second', before_ts, ts)
                 WHEN before_ts IS NULL
                 THEN date_diff('second', ts, after_ts)
                 WHEN date_diff('second', before_ts, ts)
                      <= date_diff('second', ts, after_ts)
                 THEN date_diff('second', before_ts, ts)
                 ELSE date_diff('second', ts, after_ts) END
            AS BIGINT) AS gap_sec
FROM pur""",
)
def rel_nearest_event_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    tagged = ev.where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias(
            "view_ts"
        ),
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    before = F.max("view_ts").over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    after = F.min("view_ts").over(
        order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        before.alias("before_ts"),
        after.alias("after_ts"),
    )
    pur = filled.where(
        (F.col("event_type") == "purchase")
        & (F.col("before_ts").isNotNull() | F.col("after_ts").isNotNull())
    )
    gap_before = F.unix_timestamp("ts") - F.unix_timestamp("before_ts")
    gap_after = F.unix_timestamp("after_ts") - F.unix_timestamp("ts")
    prefer_before = F.col("after_ts").isNull() | (
        F.col("before_ts").isNotNull() & (gap_before <= gap_after)
    )
    return pur.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(prefer_before, "before").otherwise("after").alias(
            "direction"
        ),
        F.when(prefer_before, gap_before)
        .otherwise(gap_after)
        .cast("long")
        .alias("gap_sec"),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test — cohorts by user_id parity, conversion = the
# user recorded ≥1 purchase. All inputs are exact integers (per-user
# flags via one groupBy, cohort rollup via one more); the z-score is
# ONE double formula evaluated in identical op order on both engines,
# round(·,9). The 1.96 threshold flag states the standard 95% two-sided
# readout. At 100 TB nothing changes: two map-side-combinable
# aggregates and a 2-row reduce.
@register(
    "rel_abtest_ztest",
    """WITH ev AS (SELECT user_id, event_type FROM events),
users AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS cohort,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM ev GROUP BY user_id),
c AS (
  SELECT cohort, count(*) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted
  FROM users GROUP BY cohort),
wide AS (
  SELECT max(CASE WHEN cohort = 0 THEN n_users END) AS n0,
         max(CASE WHEN cohort = 0 THEN n_converted END) AS c0,
         max(CASE WHEN cohort = 1 THEN n_users END) AS n1,
         max(CASE WHEN cohort = 1 THEN n_converted END) AS c1
  FROM c)
SELECT n0, c0, n1, c1,
       round(((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 0.0)) * 1e9) / 1e9
         AS z_score,
       coalesce(abs((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
           / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                  * (1.0 / n0 + 1.0 / n1)), 0.0)) > 1.96, false)
         AS significant
FROM wide""",
)
def rel_abtest_ztest(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).select("user_id", "event_type")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("cohort"),
        "converted",
    )
    c = users.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    wide = c.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("cohort") == 0, F.col("n_converted"))).alias(
            "c0"
        ),
        F.max(F.when(F.col("cohort") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_converted"))).alias(
            "c1"
        ),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    # a degenerate pool (everyone or no one converts) has zero pooled
    # variance: z is NULL, not an error/inf — identical on both engines
    z = (p1 - p0) / F.nullif(
        F.sqrt(
            pp * (1.0 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
        ),
        F.lit(0.0),
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        dblround(z, 9).alias("z_score"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Capped running sum — balance_t = max(0, balance_{t-1} + delta_t):
# the clamp makes each row depend on the PREVIOUS ROW'S OUTPUT, so no
# window frame computes it (a running sum then clamp is a DIFFERENT
# function — the clamp must apply inside every step). This is the
# canonical case for the grouped sequential fold: applyInPandas per
# user over the (ts, event_id) total order, a 5-line numpy-free loop
# per group, state one float. Deltas: clicks earn +value, purchases
# spend −value; quantized to DECIMAL(14,4)-equivalent cents so the
# fold is exact integer arithmetic in disguise and the recursive-CTE
# oracle (same recurrence, rn+1 joins) matches bit-for-bit. At 100 TB
# this is one shuffle on user_id and a linear per-key scan — the same
# cost as sessionization, just forced through the Python lane by the
# semantics.
@register(
    "rel_capped_running_sum",
    f"""WITH RECURSIVE {duck_ev('value')},
seq AS (
  SELECT user_id,
         CAST(round(CASE WHEN event_type = 'purchase'
                         THEN -CAST(value AS DOUBLE)
                         ELSE CAST(value AS DOUBLE) END * 1e4) / 1e4
              AS DECIMAL(18,4)) AS delta,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM ev WHERE event_type IN ('click', 'purchase')),
fold AS (
  SELECT user_id, rn, delta,
         CAST(greatest(CAST(0 AS DECIMAL(18,4)), delta)
              AS DECIMAL(18,4)) AS balance
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, s.delta,
         CAST(greatest(CAST(0 AS DECIMAL(18,4)), f.balance + s.delta)
              AS DECIMAL(18,4)) AS balance
  FROM fold f JOIN seq s
    ON s.user_id = f.user_id AND s.rn = f.rn + 1)
SELECT user_id,
       CAST(max(rn) AS BIGINT) AS n_steps,
       CAST(max(CASE WHEN rn = mx THEN balance END) AS DOUBLE)
         AS final_balance,
       CAST(max(balance) AS DOUBLE) AS peak_balance,
       CAST(sum(CASE WHEN balance = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_floored
FROM (SELECT *, max(rn) OVER (PARTITION BY user_id) AS mx FROM fold)
GROUP BY user_id""",
)
def rel_capped_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).where(
        F.col("event_type").isin("click", "purchase")
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        dblround(
            F.when(
                F.col("event_type") == "purchase",
                -F.col("value").cast("double"),
            ).otherwise(F.col("value").cast("double")),
            4,
        )
        .cast("decimal(18,4)")
        .alias("delta"),
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        # exact integer arithmetic: decimal(18,4) deltas as scaled ints
        bal = 0
        peak = 0
        floored = 0
        for d in (pdf["delta"] * 10_000).round().astype("int64"):
            bal = max(0, bal + int(d))
            peak = max(peak, bal)
            if bal == 0:
                floored += 1
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_steps": [len(pdf)],
                "final_balance": [bal / 10_000.0],
                "peak_balance": [peak / 10_000.0],
                "n_floored": [floored],
            }
        )

    return seq.groupBy("user_id").applyInPandas(
        fold,
        "user_id long, n_steps long, final_balance double, "
        "peak_balance double, n_floored long",
    )


# ---------------------------------------------------------------------------
# Peak concurrency — each event opens a 10-minute interval; the maximum
# number simultaneously open is the +1/−1 boundary sweep: union the
# (start, +1) and (end, −1) boundaries, running-sum over the
# (boundary_ts, delta, event_id) total order (ends sort BEFORE starts
# at the same instant via delta ASC — touching intervals don't
# overlap), take the max per event type. One window over the boundary
# stream — 2N rows, no interval self-join.
@register(
    "rel_peak_concurrency",
    f"""WITH {duck_ev('value')},
bounds AS (
  SELECT event_type, ts AS bts, 1 AS delta, event_id FROM ev
  UNION ALL
  SELECT event_type, ts + INTERVAL 10 MINUTE AS bts, -1 AS delta,
         event_id
  FROM ev),
running AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY bts, delta, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS open_now
  FROM bounds)
SELECT event_type, CAST(max(open_now) AS BIGINT) AS peak_concurrent
FROM running GROUP BY event_type""",
)
def rel_peak_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    starts = ev.select(
        "event_type",
        F.col("ts").alias("bts"),
        F.lit(1).alias("delta"),
        "event_id",
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("bts"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    bounds = starts.unionByName(ends)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bts", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = bounds.select(
        "event_type", F.sum("delta").over(w).alias("open_now")
    )
    return running.groupBy("event_type").agg(
        F.max("open_now").cast("long").alias("peak_concurrent")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit — for each FK edge of the star schema,
# total child rows and orphan rows (left-anti against the parent). A
# healthy lake reports zeros; a broken backfill shows up as a nonzero
# orphan count naming the edge. Each check is one anti-join that
# broadcasts the parent's key column when small — at 100 TB the big
# edges (lineitem→orders) shuffle on the key, which is exactly the
# join the schema already pays for.
_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_oracle() -> str:
    parts = []
    for child, ck, parent, pk in _FK_EDGES:
        parts.append(
            f"""SELECT '{child}.{ck}' AS fk_edge,
       (SELECT count(*) FROM {child}) AS n_child_rows,
       (SELECT count(*) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                          WHERE p.{pk} = c.{ck})) AS n_orphans"""
        )
    return "\nUNION ALL\n".join(parts)


@register("rel_referential_audit", _fk_oracle())
def rel_referential_audit(spark: SparkSession, sf: str) -> DataFrame:
    # one lazy 1-row aggregate per edge, unioned — no driver-side
    # counts; each LEFT join marks parent hits and the agg counts nulls
    out = None
    for child, ck, parent, pk in _FK_EDGES:
        c = table(spark, sf, child).select(F.col(ck).alias("_ck"))
        p = (
            table(spark, sf, parent)
            .select(F.col(pk).alias("_pk"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        j = c.join(F.broadcast(p), c["_ck"] == p["_pk"], "left")
        row = j.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(
            F.lit(f"{child}.{ck}").alias("fk_edge"),
            "n_child_rows",
            "n_orphans",
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Multi-band counts — eight hour-band × value-band cells in ONE scan:
# each band is a conditional aggregate (sum of CASE), so the fact table
# is read once and every cell fills from the same pass. The
# anti-pattern this replaces — one subquery per cell, TPC-DS Q88's
# literal SQL — scans the table 8×; Catalyst folds this form into a
# single HashAggregate over one scan, which .explain confirms and the
# 100 TB cost model demands.
_BANDS = [
    ("h8_11_low", 8, 12, 0.0, 50.0),
    ("h8_11_high", 8, 12, 50.0, 1e18),
    ("h12_15_low", 12, 16, 0.0, 50.0),
    ("h12_15_high", 12, 16, 50.0, 1e18),
    ("h16_19_low", 16, 20, 0.0, 50.0),
    ("h16_19_high", 16, 20, 50.0, 1e18),
    ("h20_23_low", 20, 24, 0.0, 50.0),
    ("h20_23_high", 20, 24, 50.0, 1e18),
]


def _band_sql() -> str:
    cells = ",\n       ".join(
        f"CAST(sum(CASE WHEN extract(hour FROM ts) >= {h0} "
        f"AND extract(hour FROM ts) < {h1} "
        f"AND value >= {lo} AND value < {hi} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS {name}"
        for name, h0, h1, lo, hi in _BANDS
    )
    return f"""WITH {duck_ev('value')}
SELECT count(*) AS n_total,
       {cells}
FROM ev"""


@register("rel_multiband_counts", _band_sql())
def rel_multiband_counts(spark: SparkSession, sf: str) -> DataFrame:
    from .catalog import events_table

    ev = events_table(spark, sf)
    aggs = [F.count(F.lit(1)).alias("n_total")]
    for name, h0, h1, lo, hi in _BANDS:
        cond = (
            (F.hour("ts") >= h0)
            & (F.hour("ts") < h1)
            & (F.col("value") >= lo)
            & (F.col("value") < hi)
        )
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("long")
            .alias(name)
        )
    return ev.agg(*aggs)


# ---------------------------------------------------------------------------
# Order lead time — days from order date to each line's ship date,
# rolled to exact percentiles per priority class (the SLA readout:
# "urgent orders ship p90 within N days"). Day difference is exact
# integer date arithmetic; percentile interpolation halves are exact
# binary fractions; one join on the orderkey the schema always pays,
# one 5-group aggregate.
@register(
    "rel_order_lead_time",
    """SELECT o_orderpriority,
       count(*) AS n_lines,
       quantile_cont(CAST(date_diff('day',
           CAST(o_orderdate AS TIMESTAMP),
           CAST(l_shipdate AS TIMESTAMP)) AS DOUBLE), 0.5)
         AS p50_days,
       quantile_cont(CAST(date_diff('day',
           CAST(o_orderdate AS TIMESTAMP),
           CAST(l_shipdate AS TIMESTAMP)) AS DOUBLE), 0.9)
         AS p90_days,
       CAST(max(date_diff('day',
           CAST(o_orderdate AS TIMESTAMP),
           CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) AS max_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority""",
)
def rel_order_lead_time(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    days = F.datediff(
        F.to_date("l_shipdate"), F.to_date("o_orderdate")
    ).cast("double")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.percentile(days, F.lit(0.5)).alias("p50_days"),
        F.percentile(days, F.lit(0.9)).alias("p90_days"),
        F.max(days).cast("long").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Benford audit — first significant digit of o_totalprice vs the
# Benford expectation log10(1+1/d). The digit comes from the string
# form (first char of the integer part — exact; no float log games on
# the extraction path); expected shares are literal doubles identical
# on both engines; deviation = |observed − expected| round(·,9). One
# map + one 9-group aggregate. The use: a column that should be
# Benford-ish and isn't was truncated, capped, or invented somewhere
# upstream.
@register(
    "rel_benford_audit",
    """WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
SELECT digit, n AS n_orders,
       round((n / total) * 1e9) / 1e9 AS observed_share,
       round(log10(1.0 + 1.0 / digit) * 1e9) / 1e9 AS benford_share,
       round(abs(n / total - log10(1.0 + 1.0 / digit)) * 1e9) / 1e9
         AS abs_deviation
FROM c CROSS JOIN tot""",
)
def rel_benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders").where(
        F.col("o_totalprice") >= 1
    )
    d = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").cast("double").alias("total"))
    obs = F.col("n") / F.col("total")
    ben = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").alias("n_orders"),
        dblround(obs, 9).alias("observed_share"),
        dblround(ben, 9).alias("benford_share"),
        dblround(F.abs(obs - ben), 9).alias("abs_deviation"),
    )


_BRIDGE_SPLIT = "1998-01-01"


# ---------------------------------------------------------------------------
# Price-volume bridge — per return flag, compare the halves before/
# after the split date: Δrevenue = (q2−q1)·p1  +  q2·(p2−p1)
# (volume effect at old price, price effect at new volume — the
# standard bridge convention). All quantities and revenues are exact
# decimal sums; the average prices divide once into DOUBLE and the
# two effects + identity check evaluate in one fixed-order formula.
# The identity delta ≈ vol + price is exact up to the two divisions —
# pinned at 1e-6 in tests, while parity pins both engines bit-equal.
@register(
    "rel_price_volume_bridge",
    f"""WITH li AS (
  SELECT l.l_returnflag AS flag,
         CASE WHEN o.o_orderdate < TIMESTAMP '{_BRIDGE_SPLIT}'
              THEN 1 ELSE 2 END AS period,
         CAST(l.l_quantity AS DECIMAL(14,2)) AS q,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
agg AS (
  SELECT flag,
         CAST(sum(CASE WHEN period = 1 THEN q END) AS DOUBLE) AS q1,
         CAST(sum(CASE WHEN period = 2 THEN q END) AS DOUBLE) AS q2,
         CAST(sum(CASE WHEN period = 1 THEN rev END) AS DOUBLE) AS r1,
         CAST(sum(CASE WHEN period = 2 THEN rev END) AS DOUBLE) AS r2
  FROM li GROUP BY flag)
SELECT flag,
       round((r2 - r1) * 1e6) / 1e6 AS revenue_delta,
       round(((q2 - q1) * (r1 / q1)) * 1e6) / 1e6 AS volume_effect,
       round((q2 * (r2 / q2 - r1 / q1)) * 1e6) / 1e6 AS price_effect
FROM agg""",
)
def rel_price_volume_bridge(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_returnflag").alias("flag"),
        F.when(
            F.col("o_orderdate") < F.lit(_BRIDGE_SPLIT).cast("timestamp"),
            1,
        )
        .otherwise(2)
        .alias("period"),
        F.col("l_quantity").cast("decimal(14,2)").alias("q"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("rev"),
    )
    agg = j.groupBy("flag").agg(
        F.sum(F.when(F.col("period") == 1, F.col("q")))
        .cast("double")
        .alias("q1"),
        F.sum(F.when(F.col("period") == 2, F.col("q")))
        .cast("double")
        .alias("q2"),
        F.sum(F.when(F.col("period") == 1, F.col("rev")))
        .cast("double")
        .alias("r1"),
        F.sum(F.when(F.col("period") == 2, F.col("rev")))
        .cast("double")
        .alias("r2"),
    )
    return agg.select(
        "flag",
        dblround(F.col("r2") - F.col("r1"), 6).alias("revenue_delta"),
        dblround(
            (F.col("q2") - F.col("q1")) * (F.col("r1") / F.col("q1")), 6
        ).alias("volume_effect"),
        dblround(
            F.col("q2")
            * (F.col("r2") / F.col("q2") - F.col("r1") / F.col("q1")),
            6,
        ).alias("price_effect"),
    )


# ---------------------------------------------------------------------------
# Max drawdown — cumulative value per user over the (ts, event_id)
# total order; drawdown_t = cum_t − max(cum_{≤t}); max drawdown is the
# most negative. Every frame is backward-looking (running sum, running
# max, running min) so three stacked windows over ONE user-partitioned
# sort compute it — no self-join, no iteration. Sums stay DECIMAL to
# the end; the reported numbers divide/round once.
@register(
    "rel_max_drawdown",
    f"""WITH {DUCK_EVENTS},
series AS (
  SELECT user_id, ts, event_id,
         sum(CAST(value AS DECIMAL(18,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM ev),
dd AS (
  SELECT user_id,
         cum - max(cum) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS drawdown,
         cum
  FROM series)
SELECT user_id,
       CAST(max(cum) AS DOUBLE) AS peak_value,
       CAST(min(drawdown) AS DOUBLE) AS max_drawdown
FROM dd GROUP BY user_id""",
)
def rel_max_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(run)
        .alias("cum"),
    )
    dd = series.select(
        "user_id",
        "cum",
        (F.col("cum") - F.max("cum").over(run)).alias("drawdown"),
    )
    return dd.groupBy("user_id").agg(
        F.max("cum").cast("double").alias("peak_value"),
        F.min("drawdown").cast("double").alias("max_drawdown"),
    )


_DUP_WINDOW_MIN = 5


# ---------------------------------------------------------------------------
# Duplicate payments — purchases by the same user for the same amount
# within 5 minutes: lag over the (user, amount) partition ordered by
# time turns the pairwise question into a per-row predicate — no
# self-join, one shuffle on (user, amount). Emits the SECOND event of
# each suspicious pair (the one to hold), with the gap for triage.
@register(
    "rel_duplicate_payments",
    f"""WITH {DUCK_EVENTS},
p AS (SELECT event_id, ts, user_id, value FROM ev
      WHERE event_type = 'purchase'),
lagged AS (
  SELECT event_id, user_id, value, ts,
         lag(ts) OVER (PARTITION BY user_id, value
                       ORDER BY ts, event_id) AS prev_ts,
         lag(event_id) OVER (PARTITION BY user_id, value
                             ORDER BY ts, event_id) AS prev_event
  FROM p)
SELECT event_id AS suspect_event, prev_event AS original_event,
       user_id, CAST(value AS DOUBLE) AS amount,
       CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_sec
FROM lagged
WHERE prev_ts IS NOT NULL
  AND ts <= prev_ts + INTERVAL {_DUP_WINDOW_MIN} MINUTE""",
)
def rel_duplicate_payments(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    w = Window.partitionBy("user_id", "value").orderBy("ts", "event_id")
    lagged = p.select(
        "event_id",
        "user_id",
        "value",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("event_id").over(w).alias("prev_event"),
    )
    return lagged.where(
        F.col("prev_ts").isNotNull()
        & (
            F.col("ts")
            <= F.col("prev_ts")
            + F.expr(f"INTERVAL {_DUP_WINDOW_MIN} MINUTES")
        )
    ).select(
        F.col("event_id").alias("suspect_event"),
        F.col("prev_event").alias("original_event"),
        "user_id",
        F.col("value").cast("double").alias("amount"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
        ).alias("gap_sec"),
    )


# ---------------------------------------------------------------------------
# Missing-sequence audit — for a key that should be dense (invoice/
# order numbers), each sorted-adjacent pair with a gap names a missing
# range [prev+1, next−1]. One lead() over the sorted distinct keys —
# 100 TB cost is the sort, and the output is only the GAPS (tiny),
# never the dense expansion. The fixture's orderkeys are sparse by
# TPC-H construction, so the entry reports real ranges plus the
# totals an auditor reconciles against the expected count.
@register(
    "rel_missing_sequence",
    """WITH k AS (SELECT DISTINCT o_orderkey AS key FROM orders),
gaps AS (
  SELECT key AS gap_after,
         lead(key) OVER (ORDER BY key) AS next_key
  FROM k)
SELECT CAST(gap_after + 1 AS BIGINT) AS missing_from,
       CAST(next_key - 1 AS BIGINT) AS missing_to,
       CAST(next_key - gap_after - 1 AS BIGINT) AS n_missing
FROM gaps
WHERE next_key IS NOT NULL AND next_key - gap_after > 1""",
)
def rel_missing_sequence(spark: SparkSession, sf: str) -> DataFrame:
    k = table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("key")
    ).distinct()
    w = Window.orderBy("key")
    gaps = k.select(
        F.col("key").alias("gap_after"),
        F.lead("key").over(w).alias("next_key"),
    )
    return gaps.where(
        F.col("next_key").isNotNull()
        & (F.col("next_key") - F.col("gap_after") > 1)
    ).select(
        (F.col("gap_after") + 1).cast("long").alias("missing_from"),
        (F.col("next_key") - 1).cast("long").alias("missing_to"),
        (F.col("next_key") - F.col("gap_after") - 1)
        .cast("long")
        .alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# Growth accounting — distinct (user, week) activity, then one lag per
# user classifies each active week: NEW (no prior week), RETAINED
# (active the immediately previous week), RESURRECTED (active before,
# but not last week). CHURNED for week w is derived per week:
# actives(w−1) − retained(w) — computed by joining the weekly rollup
# to itself on the calendar (one small-side join over ~weeks rows, not
# users). weekofyear is calendar arithmetic identical on both engines
# for the fixture's single-month span; the week key is the MONDAY date
# (date_trunc 'week'), not an integer week number, so year boundaries
# can't alias.
@register(
    "rel_growth_accounting",
    f"""WITH {DUCK_EVENTS},
uw AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM ev),
flagged AS (
  SELECT user_id, week,
         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
  FROM uw),
classed AS (
  SELECT week,
         CASE WHEN prev_week IS NULL THEN 'new'
              WHEN week - prev_week = 7 THEN 'retained'
              ELSE 'resurrected' END AS klass
  FROM flagged),
weekly AS (
  SELECT week,
         CAST(sum(CASE WHEN klass = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN klass = 'retained' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
         CAST(sum(CASE WHEN klass = 'resurrected' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected,
         count(*) AS n_active
  FROM classed GROUP BY week)
SELECT CAST(w.week AS TIMESTAMP) AS week,
       w.n_new, w.n_retained, w.n_resurrected, w.n_active,
       CAST(coalesce(p.n_active, 0) - w.n_retained AS BIGINT)
         AS n_churned_from_prev
FROM weekly w LEFT JOIN weekly p ON p.week = w.week - 7""",
)
def rel_growth_accounting(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    uw = ev.select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("week"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = uw.withColumn("prev_week", F.lag("week").over(w))
    classed = flagged.select(
        "week",
        F.when(F.col("prev_week").isNull(), "new")
        .when(F.datediff("week", "prev_week") == 7, "retained")
        .otherwise("resurrected")
        .alias("klass"),
    )
    weekly = classed.groupBy("week").agg(
        F.sum(F.when(F.col("klass") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("klass") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(F.when(F.col("klass") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("n_resurrected"),
        F.count(F.lit(1)).alias("n_active"),
    )
    cur = weekly.alias("w")
    prev = weekly.alias("p")
    return cur.join(
        prev,
        F.col("p.week") == F.date_sub(F.col("w.week"), 7),
        "left",
    ).select(
        # DATE surfaces as datetime.date objects through Spark->pandas
        # but datetime64 through DuckDB->pandas (gate-mimic
        # date-vs-timestamp hazard class) — the output column is pinned
        # to TIMESTAMP on both engines (UTC session, so midnight UTC)
        F.col("w.week").cast("timestamp").alias("week"),
        F.col("w.n_new").alias("n_new"),
        F.col("w.n_retained").alias("n_retained"),
        F.col("w.n_resurrected").alias("n_resurrected"),
        F.col("w.n_active").alias("n_active"),
        (
            F.coalesce(F.col("p.n_active"), F.lit(0))
            - F.col("w.n_retained")
        )
        .cast("long")
        .alias("n_churned_from_prev"),
    )


# users whose last activity falls in the final _CENSOR_DAYS of the
# observation window are right-censored (we cannot know they churned)
_CENSOR_DAYS = 3


# ---------------------------------------------------------------------------
# Kaplan-Meier — per user: lifetime = last_day − first_day; churn
# event if the user went quiet before the censor edge, censored
# otherwise. At each distinct lifetime t: d_t churn events, n_t at
# risk (lifetime ≥ t, computed as a reverse running sum — no per-t
# rescan); S(t) = Π_{u≤t} (1 − d_u/n_u), evaluated as
# exp(Σ round(ln(1−d/n), 9)) so the product becomes an
# order-insensitive DECIMAL sum under the engine-shared ln
# quantization (the trigram discipline applied to survival). The
# curve rides ONE window over ~distinct-lifetime rows — survival at
# corpus scale is an aggregate problem, not a per-user one.
@register(
    "rel_survival_km",
    f"""WITH {DUCK_EVENTS},
span AS (
  SELECT user_id,
         CAST(min(CAST(ts AS DATE)) AS DATE) AS first_day,
         CAST(max(CAST(ts AS DATE)) AS DATE) AS last_day
  FROM ev GROUP BY user_id),
edge AS (SELECT max(last_day) AS end_day FROM span),
life AS (
  SELECT user_id,
         CAST(last_day - first_day AS BIGINT) AS lifetime,
         last_day > end_day - {_CENSOR_DAYS} AS censored
  FROM span CROSS JOIN edge),
tbl AS (
  SELECT lifetime,
         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS DOUBLE)
           AS d,
         CAST(count(*) AS DOUBLE) AS arrivals
  FROM life GROUP BY lifetime),
risk AS (
  SELECT lifetime, d,
         sum(arrivals) OVER (ORDER BY lifetime DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS n_at_risk
  FROM tbl),
terms AS (
  SELECT lifetime, d, n_at_risk,
         CAST(CASE WHEN d > 0 AND d < n_at_risk
                   THEN round(ln(1.0 - d / n_at_risk) * 1e9) / 1e9
                   ELSE 0.0 END AS DECIMAL(20,9)) AS logterm,
         CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS hit_zero
  FROM risk)
SELECT CAST(lifetime AS BIGINT) AS lifetime_days,
       CAST(d AS BIGINT) AS n_churned,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CASE WHEN sum(hit_zero) OVER (
              ORDER BY lifetime
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
            THEN 0.0
            ELSE round(exp(CAST(sum(logterm) OVER (
              ORDER BY lifetime
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE)) * 1e9) / 1e9 END AS survival
FROM terms""",
)
def rel_survival_km(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    span = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    edge = span.agg(F.max("last_day").alias("end_day"))
    life = span.crossJoin(F.broadcast(edge)).select(
        "user_id",
        F.datediff("last_day", "first_day").cast("long").alias(
            "lifetime"
        ),
        (
            F.col("last_day")
            > F.date_sub(F.col("end_day"), _CENSOR_DAYS)
        ).alias("censored"),
    )
    tbl = life.groupBy("lifetime").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("double")
        .alias("d"),
        F.count(F.lit(1)).cast("double").alias("arrivals"),
    )
    desc = Window.orderBy(F.col("lifetime").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tbl.select(
        "lifetime",
        "d",
        F.sum("arrivals").over(desc).alias("n_at_risk"),
    )
    # d == n_at_risk (everyone at risk churns — always true at the max
    # uncensored lifetime of a fully-churned cohort) sends the log-sum
    # form to ln(0): DuckDB errors, Spark NULLs (parity_fuzz, tiny).
    # KM's real value there is EXACTLY 0 from that t onward, so the
    # zero crossing is tracked as a flag and survival pinned to 0.0 —
    # identical on both engines, value-neutral when no group hits zero.
    logterm = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")),
        dblround(F.log(1.0 - F.col("d") / F.col("n_at_risk")), 9),
    ).otherwise(F.lit(0.0)).cast("decimal(20,9)")
    hit_zero = F.when(
        F.col("d") >= F.col("n_at_risk"), F.lit(1)
    ).otherwise(F.lit(0))
    terms = risk.select(
        "lifetime", "d", "n_at_risk",
        logterm.alias("logterm"), hit_zero.alias("hit_zero"),
    )
    asc = Window.orderBy("lifetime").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        F.col("lifetime").cast("long").alias("lifetime_days"),
        F.col("d").cast("long").alias("n_churned"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.when(F.sum("hit_zero").over(asc) > 0, F.lit(0.0))
        .otherwise(
            dblround(
                F.exp(F.sum("logterm").over(asc).cast("double")), 9
            )
        )
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV — cohort = user's first active week (Monday date), age =
# weeks since; per (cohort, age): active users, period value, and the
# cumulative value along age (one cohort-partitioned running sum over
# the small rollup). Exact decimals to the end. Reading a row:
# "cohort W had n users at age k who have produced cum_value so far".
@register(
    "rel_cohort_ltv",
    f"""WITH {DUCK_EVENTS},
firstw AS (
  SELECT user_id,
         CAST(min(date_trunc('week', ts)) AS DATE) AS cohort
  FROM ev GROUP BY user_id),
act AS (
  SELECT f.cohort,
         CAST((CAST(date_trunc('week', e.ts) AS DATE) - f.cohort) / 7
              AS BIGINT) AS age_weeks,
         e.user_id,
         CAST(e.value AS DECIMAL(18,6)) AS vd
  FROM ev e JOIN firstw f ON f.user_id = e.user_id),
per AS (
  SELECT cohort, age_weeks,
         count(DISTINCT user_id) AS n_active,
         CAST(sum(vd) AS DECIMAL(20,6)) AS period_value
  FROM act GROUP BY cohort, age_weeks)
SELECT CAST(cohort AS TIMESTAMP) AS cohort, age_weeks, n_active,
       CAST(period_value AS DOUBLE) AS period_value,
       CAST(sum(period_value) OVER (
         PARTITION BY cohort ORDER BY age_weeks
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS DOUBLE) AS cum_value
FROM per""",
)
def rel_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    firstw = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).cast("date").alias("cohort")
    )
    act = ev.join(firstw, "user_id").select(
        "cohort",
        (
            F.datediff(
                F.date_trunc("week", "ts").cast("date"), F.col("cohort")
            )
            / 7
        )
        .cast("long")
        .alias("age_weeks"),
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("vd"),
    )
    per = act.groupBy("cohort", "age_weeks").agg(
        F.count_distinct("user_id").alias("n_active"),
        F.sum("vd").cast("decimal(20,6)").alias("period_value"),
    )
    run = Window.partitionBy("cohort").orderBy("age_weeks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        # output pinned to TIMESTAMP on both engines (gate-mimic
        # date-vs-timestamp hazard class; UTC session -> midnight UTC)
        F.col("cohort").cast("timestamp").alias("cohort"),
        "age_weeks",
        "n_active",
        F.col("period_value").cast("double").alias("period_value"),
        F.sum("period_value").over(run).cast("double").alias("cum_value"),
    )


# ---------------------------------------------------------------------------
# ABC classification — parts ranked by revenue; the running revenue
# share over the (revenue DESC, partkey) total order assigns
# A (≤ 80%), B (≤ 95%), C (rest) using the share BEFORE this part, so
# the part that crosses a boundary still belongs to the class it
# completes — the convention that keeps class A's revenue ≥ 80%.
# Same running-share machinery as cur_vocab_coverage, pointed at
# inventory policy; the window is over the aggregated PART table.
@register(
    "rel_abc_classification",
    """WITH rev AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(24,2)) AS revenue
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT CAST(sum(revenue) AS DOUBLE) AS total FROM rev),
ranked AS (
  SELECT partkey, revenue,
         CAST(sum(revenue) OVER (ORDER BY revenue DESC, partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS DOUBLE) AS share_before
  FROM rev),
classed AS (
  SELECT partkey, revenue,
         CASE WHEN coalesce(share_before, 0.0) / total < 0.80 THEN 'A'
              WHEN coalesce(share_before, 0.0) / total < 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked CROSS JOIN tot)
SELECT abc, count(*) AS n_parts,
       CAST(sum(revenue) AS DOUBLE) AS class_revenue
FROM classed GROUP BY abc""",
)
def rel_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(24,2)")
        .alias("revenue")
    )
    tot = rev.agg(F.sum("revenue").cast("double").alias("total"))
    before = Window.orderBy(
        F.col("revenue").desc(), "partkey"
    ).rowsBetween(Window.unboundedPreceding, -1)
    ranked = rev.withColumn(
        "share_before", F.sum("revenue").over(before).cast("double")
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "partkey",
        "revenue",
        F.when(
            F.coalesce(F.col("share_before"), F.lit(0.0))
            / F.col("total")
            < 0.80,
            "A",
        )
        .when(
            F.coalesce(F.col("share_before"), F.lit(0.0))
            / F.col("total")
            < 0.95,
            "B",
        )
        .otherwise("C")
        .alias("abc"),
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("revenue").cast("double").alias("class_revenue"),
    )


# (lower bound, rate) — each band taxes the slice above its bound up
# to the next bound; rates in basis points to stay in exact decimal
_TIERS = [(0, 100), (100_000, 50), (200_000, 10)]  # bp of the slice


# ---------------------------------------------------------------------------
# Tiered pricing — marginal bands, not flat CASE: an order of 250k
# pays 1% of its first 100k + 0.5% of the next 100k + 0.1% of the
# last 50k. Each band's slice is least(v, hi) − lo clamped at 0 —
# exact DECIMAL arithmetic end to end (rates are integer basis
# points, so slice·rate/10000 stays a terminating decimal); the flat
# misread (rate of the WHOLE value by final band) is what the unit
# test disproves. One map + one aggregate per priority.
def _fee_sql() -> str:
    slices = []
    for i, (lo, bp) in enumerate(_TIERS):
        hi = _TIERS[i + 1][0] if i + 1 < len(_TIERS) else None
        capped = (
            f"least(v, {hi})" if hi is not None else "v"
        )
        slices.append(
            f"CAST(greatest({capped} - {lo}, 0) AS DECIMAL(20,2))"
            f" * {bp}"
        )
    return "(" + " + ".join(slices) + ") / 10000"


@register(
    "rel_tiered_pricing",
    f"""WITH o AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS v
  FROM orders)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST({_fee_sql()} AS DECIMAL(24,6))) AS DOUBLE)
         AS total_fees
FROM o GROUP BY o_orderpriority""",
)
def rel_tiered_pricing(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    fee = None
    for i, (lo, bp) in enumerate(_TIERS):
        hi = _TIERS[i + 1][0] if i + 1 < len(_TIERS) else None
        capped = (
            F.least(F.col("v"), F.lit(hi)) if hi is not None else F.col("v")
        )
        part = (
            F.greatest(capped - lo, F.lit(0)).cast("decimal(20,2)") * bp
        )
        fee = part if fee is None else (fee + part)
    fee = (fee / 10000).cast("decimal(24,6)")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(fee).cast("double").alias("total_fees"),
    )


def tiered_fee_py(v: float) -> float:
    """Reference implementation for tests."""
    fee = 0.0
    for i, (lo, bp) in enumerate(_TIERS):
        hi = _TIERS[i + 1][0] if i + 1 < len(_TIERS) else None
        capped = min(v, hi) if hi is not None else v
        fee += max(capped - lo, 0) * bp
    return fee / 10000


# ---------------------------------------------------------------------------
# Purchase dispersion — per-user purchase counts reduced to mean,
# variance (exact integer power sums), and the dispersion index
# var/mean: ≈1 is Poisson-like, >1 overdispersed (negative binomial
# territory), <1 underdispersed. One groupBy for the counts, one
# 1-row reduce for the moments — the five-minute check that saves a
# week of fitting the wrong count model.
@register(
    "rel_purchase_dispersion",
    """WITH ev AS (SELECT user_id, event_type FROM events),
counts AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases
  FROM ev GROUP BY user_id),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(n_purchases) AS DOUBLE) AS s1,
         CAST(sum(n_purchases * n_purchases) AS DOUBLE) AS s2
  FROM counts)
SELECT CAST(n AS BIGINT) AS n_users,
       round((s1 / n) * 1e9) / 1e9 AS mean_purchases,
       round((s2 / n - (s1 / n) * (s1 / n)) * 1e9) / 1e9
         AS var_purchases,
       round(((s2 / n - (s1 / n) * (s1 / n)) / nullif(s1 / n, 0.0))
             * 1e9) / 1e9 AS dispersion_index
FROM m""",
)
def rel_purchase_dispersion(spark: SparkSession, sf: str) -> DataFrame:
    from .catalog import events_table

    ev = events_table(spark, sf).select("user_id", "event_type")
    counts = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_purchases")
    )
    m = counts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("n_purchases").cast("double").alias("s1"),
        F.sum(F.col("n_purchases") * F.col("n_purchases"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        dblround(mean, 9).alias("mean_purchases"),
        dblround(var, 9).alias("var_purchases"),
        dblround(var / F.nullif(mean, F.lit(0.0)), 9).alias(
            "dispersion_index"
        ),
    )


# ---------------------------------------------------------------------------
# HHI — per nation: supplier revenue shares squared and summed. Exact
# decimal revenue sums; the share division and square run as one
# fixed-order double expression per supplier, quantized round(·,9)
# into a DECIMAL fold so partition order can't smear the last bit
# (the chi2-cells discipline). n_eff = 1/HHI is the "effective number
# of suppliers" reading.
@register(
    "rel_hhi_concentration",
    f"""WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
         CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(24,2)) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey),
tot AS (
  SELECT nationkey, CAST(sum(r) AS DOUBLE) AS total
  FROM rev GROUP BY nationkey),
shares AS (
  SELECT rev.nationkey,
         CAST(round((CAST(r AS DOUBLE) / total)
                    * (CAST(r AS DOUBLE) / total) * 1e9) / 1e9
              AS DECIMAL(20,9)) AS sh2
  FROM rev JOIN tot ON tot.nationkey = rev.nationkey)
SELECT nationkey,
       count(*) AS n_suppliers,
       round(CAST(sum(sh2) AS DOUBLE), 9) AS hhi,
       {halfup_ratio_duck("1", "sum(sh2)", 9, 0, 9)} AS n_effective
FROM shares GROUP BY nationkey""",
)
def rel_hhi_concentration(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(24,2)")
            .alias("r")
        )
    )
    tot = rev.groupBy("nationkey").agg(
        F.sum("r").cast("double").alias("total")
    )
    share = F.col("r").cast("double") / F.col("total")
    shares = rev.join(F.broadcast(tot), "nationkey").select(
        "nationkey",
        dblround(share * share, 9).cast("decimal(20,9)").alias("sh2"),
    )
    return shares.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("sh2").cast("double"), 9).alias("hhi"),
        # integer-exact HALF_UP ratio over the 9-dp decimal fold
        # (ROUND8 §12 class; r9 audit)
        halfup_ratio("1", "sum(sh2)", 9, 0, 9).alias("n_effective"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint — daily value totals x_t; S_t = Σ_{i≤t}(x_i − x̄)
# peaks in magnitude at the most likely single level shift. Daily
# totals are exact decimals; x̄ rides a 1-row broadcast; the running
# sum is one window over ~days rows; the argmax day takes a
# (|S| DESC, day) total order. Output: the changepoint day, its
# |CUSUM| magnitude, and the before/after daily means that describe
# the shift.
@register(
    "rel_cusum_changepoint",
    f"""WITH {DUCK_EVENTS},
daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(20,6)) AS x
  FROM ev GROUP BY d),
m AS (SELECT CAST(avg(CAST(x AS DOUBLE)) AS DOUBLE) AS xbar,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily),
cusum AS (
  SELECT d, x, n_days,
         sum(CAST(x AS DOUBLE) - xbar) OVER (
           ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS s
  FROM daily CROSS JOIN m),
pick AS (
  SELECT d AS change_day, s, n_days,
         row_number() OVER (ORDER BY abs(s) DESC, d) AS rn
  FROM cusum)
SELECT CAST(p.change_day AS TIMESTAMP) AS change_day,
       CAST(p.n_days AS BIGINT) AS n_days,
       round(abs(p.s) * 1e6) / 1e6 AS cusum_magnitude,
       round((SELECT avg(CAST(x AS DOUBLE)) FROM daily
              WHERE d <= p.change_day) * 1e6) / 1e6 AS mean_before,
       round((SELECT avg(CAST(x AS DOUBLE)) FROM daily
              WHERE d > p.change_day) * 1e6) / 1e6 AS mean_after
FROM pick p WHERE p.rn = 1""",
)
def rel_cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(20,6)")
        .alias("x")
    )
    m = daily.agg(
        F.avg(F.col("x").cast("double")).alias("xbar"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    run = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = daily.crossJoin(F.broadcast(m)).withColumn(
        "s",
        F.sum(F.col("x").cast("double") - F.col("xbar")).over(run),
    )
    pick = (
        cusum.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.abs(F.col("s")).desc(), "d")
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("d").alias("change_day"),
            "s",
            "n_days",
        )
        .localCheckpoint(eager=True)
    )
    before = (
        daily.join(
            F.broadcast(pick.select("change_day")),
            daily["d"] <= F.col("change_day"),
        )
        .agg(F.avg(F.col("x").cast("double")).alias("mean_before"))
    )
    after = (
        daily.join(
            F.broadcast(pick.select("change_day")),
            daily["d"] > F.col("change_day"),
        )
        .agg(F.avg(F.col("x").cast("double")).alias("mean_after"))
    )
    return (
        pick.crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(after))
        .select(
            # output pinned to TIMESTAMP on both engines (gate-mimic
            # date-vs-timestamp hazard class; UTC -> midnight UTC)
            F.col("change_day").cast("timestamp").alias("change_day"),
            F.col("n_days").cast("long").alias("n_days"),
            dblround(F.abs("s"), 6).alias("cusum_magnitude"),
            dblround(F.col("mean_before"), 6).alias("mean_before"),
            dblround(F.col("mean_after"), 6).alias("mean_after"),
        )
    )


# ---------------------------------------------------------------------------
# Weekday seasonality index — per ISO weekday: that weekday's average
# daily event count relative to the overall average daily count. An
# index of 1.2 for Monday means Mondays run 20% hot; a forecaster
# divides the series by these factors before fitting trend. Daily
# counts are exact; the two averages and the ratio are one fixed
# double expression.
@register(
    "rel_seasonality_index",
    f"""WITH {DUCK_EVENTS},
daily AS (
  SELECT CAST(ts AS DATE) AS d, isodow(CAST(ts AS DATE)) AS dow,
         count(*) AS n
  FROM ev GROUP BY d, dow),
overall AS (SELECT CAST(avg(CAST(n AS DOUBLE)) AS DOUBLE) AS mean_daily
            FROM daily)
SELECT CAST(dow AS INT) AS iso_weekday,
       count(*) AS n_days,
       round(avg(CAST(n AS DOUBLE)) * 1e9) / 1e9 AS mean_events,
       round((avg(CAST(n AS DOUBLE)) / mean_daily) * 1e9) / 1e9
         AS seasonality_index
FROM daily CROSS JOIN overall
GROUP BY dow, mean_daily""",
)
def rel_seasonality_index(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    daily = ev.groupBy(
        F.to_date("ts").alias("d"),
        F.dayofweek("ts").alias("spark_dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # Spark dayofweek: Sunday=1..Saturday=7; ISO dow: Monday=1..Sunday=7
    daily = daily.withColumn(
        "dow",
        F.when(F.col("spark_dow") == 1, 7).otherwise(
            F.col("spark_dow") - 1
        ),
    )
    overall = daily.agg(
        F.avg(F.col("n").cast("double")).alias("mean_daily")
    )
    return (
        daily.crossJoin(F.broadcast(overall))
        .groupBy(
            F.col("dow").cast("int").alias("iso_weekday"),
            "mean_daily",
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            dblround(F.avg(F.col("n").cast("double")), 9).alias(
                "mean_events"
            ),
            dblround(
                F.avg(F.col("n").cast("double")) / F.col("mean_daily"),
                9,
            ).alias("seasonality_index"),
        )
        .drop("mean_daily")
    )


# ---------------------------------------------------------------------------
# Concurrency percentiles — the boundary sweep from
# rel_peak_concurrency, kept at the running-sum stage and reduced to
# exact percentiles per event type instead of just the max. The
# distribution is what a capacity plan provisions against (p99), what
# an autoscaler targets (p90), and what the peak alone always
# overstates. Integer open-counts ⇒ exact interpolation halves.
@register(
    "rel_concurrency_percentiles",
    f"""WITH {DUCK_EVENTS},
bounds AS (
  SELECT event_type, ts AS bts, 1 AS delta, event_id FROM ev
  UNION ALL
  SELECT event_type, ts + INTERVAL 10 MINUTE, -1, event_id FROM ev),
running AS (
  SELECT event_type,
         CAST(sum(delta) OVER (PARTITION BY event_type
                               ORDER BY bts, delta, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS DOUBLE)
           AS open_now
  FROM bounds)
SELECT event_type,
       quantile_cont(open_now, 0.5) AS p50_open,
       quantile_cont(open_now, 0.9) AS p90_open,
       quantile_cont(open_now, 0.99) AS p99_open,
       CAST(max(open_now) AS BIGINT) AS peak_open
FROM running GROUP BY event_type""",
)
def rel_concurrency_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    starts = ev.select(
        "event_type",
        F.col("ts").alias("bts"),
        F.lit(1).alias("delta"),
        "event_id",
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("bts"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bts", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = starts.unionByName(ends).select(
        "event_type",
        F.sum("delta").over(w).cast("double").alias("open_now"),
    )
    return running.groupBy("event_type").agg(
        F.percentile("open_now", F.lit(0.5)).alias("p50_open"),
        F.percentile("open_now", F.lit(0.9)).alias("p90_open"),
        F.percentile("open_now", F.lit(0.99)).alias("p99_open"),
        F.max("open_now").cast("long").alias("peak_open"),
    )
