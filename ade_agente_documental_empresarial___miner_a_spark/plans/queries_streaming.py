"""Streaming queries (``stream_*``) — the Structured Streaming builders
run as bounded batch mirrors (trigger-once / available-now) so each is
oracle-paired with DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactmath import dblround
from ..operators.chunking import chunk_sections
from ..operators.sectioning import assign_sections
from .catalog import DUCK_EVENTS, events_table, register, table
from .queries_reference import _DUCK_SECTIONS, _structured


# Multi-granularity rollup (hypertable-style continuous aggregate):
# GROUPING SETS over (day) and (day, hour) in one pass.
@register(
    "stream_multi_rollup",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
            THEN CAST(date_trunc('hour', ts) AS TIMESTAMP) END AS hour,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM ev
GROUP BY GROUPING SETS ((date_trunc('day', ts)), (date_trunc('day', ts), date_trunc('hour', ts)))""",
)
def stream_multi_rollup(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    return (
        ev.groupingSets(
            [["day"], ["day", "hour"]], "day", "hour"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select("day", "hour", "n_events", "sum_value")
    )


# Conversion funnel: per user, first view -> first subsequent purchase
@register(
    "stream_funnel",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
v AS (SELECT user_id, min(ts) AS first_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
p AS (SELECT e.user_id, min(e.ts) AS first_purchase
      FROM ev e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.first_view
      GROUP BY e.user_id)
SELECT v.user_id, v.first_view, p.first_purchase,
       p.first_purchase IS NOT NULL AS converted,
       CAST(epoch_us(p.first_purchase - v.first_view) AS BIGINT) AS us_to_convert
FROM v LEFT JOIN p ON v.user_id = p.user_id""",
)
def stream_funnel(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.join(p, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_purchase",
            F.col("first_purchase").isNotNull().alias("converted"),
            (
                F.unix_micros("first_purchase") - F.unix_micros("first_view")
            ).alias("us_to_convert"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming-batch mirrors (the same aggregations the streaming module runs
# with readStream — here executed batch so the oracle can check them)
@register(
    "stream_tumbling_1h",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM ev GROUP BY 1, 2""",
)
def stream_tumbling_1h(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_session_windows",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 43200
              THEN 1 ELSE 0 END AS new_session
  FROM ev),
islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM islands GROUP BY user_id, session_id""",
)
def stream_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    return (
        ev.groupBy(F.session_window("ts", "12 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


# §2.9c — watermark / late-data DROP RULE, batch-mirrored so DuckDB can
# check it (VERDICT r1 item 7; the live-stream behavior itself is pinned
# by tests/test_streaming.py). Arrival order = event_id; after each
# arrival the watermark is max(event time so far) - 1h, and a row is late
# iff its event time is behind the watermark established by its
# predecessors — the per-row form of Structured Streaming's drop rule
# (one-row micro-batches). The global arrival-order window exists ONLY in
# this mirror: the streaming runtime tracks the watermark as scan state,
# no sort anywhere.
@register(
    "stream_watermark_drop",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
wm AS (
  SELECT event_id, ts,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev
  FROM ev),
flagged AS (
  SELECT ts,
         (max_prev IS NOT NULL AND ts < max_prev - INTERVAL 1 HOUR) AS late
  FROM wm)
SELECT date_trunc('hour', ts) AS window_start,
       count(*) AS n_events,
       CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(sum(CASE WHEN NOT late THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM flagged GROUP BY 1""",
)
def stream_watermark_drop(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf).select("event_id", "ts")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    flagged = ev.withColumn("max_prev", F.max("ts").over(w)).withColumn(
        "late",
        F.col("max_prev").isNotNull()
        & (F.col("ts") < F.col("max_prev") - F.expr("INTERVAL 1 HOUR")),
    )
    return (
        flagged.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("late"), 1).otherwise(0)).cast("long").alias("n_late"),
            F.sum(F.when(~F.col("late"), 1).otherwise(0)).cast("long").alias("n_kept"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_late", "n_kept")
    )


# §2.9d — incremental index ≡ full rebuild (VERDICT r1 item 7): the
# foreachBatch upsert in streaming/ingest.py appends per-batch E1 output;
# that is only correct because the pipeline is per-document (sectioning
# windows partition by doc_id), so index(base ∪ delta) = index(base) ∪
# index(delta). This query RUNS both sides — chunks built from a base/
# delta split and unioned, vs one full build — and emits the per-section
# comparison; `match` must be true on every row.
@register(
    "stream_incremental_index",
    f"""WITH {_DUCK_SECTIONS},
chunks AS (
  SELECT doc_id, section, trim(paragraph) AS text FROM content
  WHERE trim(paragraph) <> ''),
inc AS (
  SELECT * FROM chunks WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT * FROM chunks WHERE doc_id % 5 = 0),
inc_agg AS (
  SELECT section, count(*) AS n_inc,
         CAST(sum(length(text)) AS BIGINT) AS len_inc
  FROM inc GROUP BY section),
full_agg AS (
  SELECT section, count(*) AS n_full,
         CAST(sum(length(text)) AS BIGINT) AS len_full
  FROM chunks GROUP BY section)
SELECT i.section, n_inc, n_full, len_inc, len_full,
       (n_inc = n_full AND len_inc = len_full) AS match
FROM inc_agg i JOIN full_agg f ON i.section = f.section""",
)
def stream_incremental_index(spark: SparkSession, sf: str) -> DataFrame:
    docs = _structured(table(spark, sf, "documents"))
    base = docs.where(F.col("doc_id") % 5 != 0)
    delta = docs.where(F.col("doc_id") % 5 == 0)

    def chunks_of(d: DataFrame) -> DataFrame:
        c = chunk_sections(assign_sections(d))
        return c.where(F.col("text") != "").select("doc_id", "section", "text")

    inc = chunks_of(base).unionByName(chunks_of(delta))
    full = chunks_of(docs)
    inc_agg = inc.groupBy("section").agg(
        F.count(F.lit(1)).alias("n_inc"),
        F.sum(F.length("text")).cast("long").alias("len_inc"),
    )
    full_agg = full.groupBy("section").agg(
        F.count(F.lit(1)).alias("n_full"),
        F.sum(F.length("text")).cast("long").alias("len_full"),
    )
    return inc_agg.join(full_agg, "section").select(
        "section",
        "n_inc",
        "n_full",
        "len_inc",
        "len_full",
        ((F.col("n_inc") == F.col("n_full")) & (F.col("len_inc") == F.col("len_full"))).alias("match"),
    )


# Stream-stream interval join, batch-mirrored (the live path is
# streaming/chat_stream.py::interval_join, exercised in
# tests/test_streaming.py): per purchase, the same user's views in the
# trailing hour — aggregated per purchase so the result stays bounded.
@register(
    "stream_interval_join",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
v AS (SELECT user_id, ts AS v_ts, event_id AS view_id FROM ev WHERE event_type = 'view'),
p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_id FROM ev WHERE event_type = 'purchase'),
j AS (
  SELECT p.user_id, p.purchase_id, v.view_id
  FROM p JOIN v ON v.user_id = p.user_id
   AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR)
SELECT user_id, purchase_id, count(*) AS n_views,
       CAST(min(view_id) AS BIGINT) AS first_view_id
FROM j GROUP BY user_id, purchase_id""",
)
def stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.chat_stream import interval_join

    ev = events_table(spark, sf)
    views = ev.where(F.col("event_type") == "view")
    buys = ev.where(F.col("event_type") == "purchase")
    joined = interval_join(views, buys)  # watermark is a no-op in batch
    return joined.groupBy("user_id", "purchase_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.min("view_id").cast("long").alias("first_view_id"),
    )


# ---------------------------------------------------------------------------
# Batch mirror of streaming dedup (streaming/chat_stream.py::
# dedup_events_stream): first event per (user_id, event_type), duplicate
# count per key. The live path is exercised in tests/test_streaming.py.
@register(
    "stream_dedup",
    f"""WITH {DUCK_EVENTS},
r AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS n_total
  FROM ev)
SELECT user_id, event_type, ts AS first_ts,
       event_id AS first_event_id,
       CAST(n_total - 1 AS BIGINT) AS n_dropped
FROM r WHERE rn = 1""",
)
def stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id", "event_type")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_total", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
            (F.col("n_total") - 1).cast("long").alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding windows — §2.9 breadth next to tumbling: 2-hour windows sliding
# by 1 hour, so every event lands in exactly two windows. Spark's
# window() enumerates the covering windows per row (epoch-aligned);
# the oracle replays that as an explicit 2-element window-start union.
@register(
    "stream_sliding_2h1h",
    f"""WITH {DUCK_EVENTS},
w AS (
  SELECT date_trunc('hour', ts) AS h, event_type, value FROM ev),
slid AS (
  SELECT h AS win_start, event_type, value FROM w
  UNION ALL
  SELECT h - INTERVAL 1 HOUR, event_type, value FROM w)
SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM slid GROUP BY win_start, event_type""",
)
def stream_sliding_2h1h(spark: SparkSession, sf: str) -> DataFrame:
    # SAME code path as the live stream (test_streaming drives
    # sliding_metrics over readStream; this batch run is what the oracle
    # checks)
    from ..streaming.chat_stream import sliding_metrics

    return sliding_metrics(events_table(spark, sf))


# ---------------------------------------------------------------------------
# CDC latest-per-key — the batch mirror of a streaming upsert
# materialized view (the engine's foreachBatch merge in
# streaming/cdc.py: events are a changelog keyed by (user_id,
# event_type); last write wins by (ts, event_id)). n_versions counts the
# changelog depth per key — the compaction-debt metric an upsert sink
# tracks. One window over the key partition serves both the rank and the
# count (single shuffle); at scale this is the standard
# "latest-snapshot-from-log" query and the shuffle key is the upsert
# key, i.e. exactly how the state store would partition.
@register(
    "stream_cdc_latest",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                          event_type, value FROM events),
r AS (
  SELECT user_id, event_type, value, ts, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
  FROM ev)
SELECT user_id, event_type, value AS last_value, ts AS last_ts,
       CAST(n_versions AS BIGINT) AS n_versions
FROM r WHERE rn = 1""",
)
def stream_cdc_latest(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wc = Window.partitionBy("user_id", "event_type")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_versions", F.count(F.lit(1)).over(wc).cast("long"))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
            "n_versions",
        )
    )


# ---------------------------------------------------------------------------
# Windowed trending top-k — per tumbling hour, the top-3 event types by
# count. The windowed counts are the streaming aggregation
# (tumbling_metrics in streaming/chat_stream.py runs the same groupBy on
# a stream); the top-k rank runs over the materialized sink — rank over
# an open streaming aggregate isn't expressible without complete-mode
# re-emission, so the split IS the production shape (aggregate in the
# stream, rank in the serving view). WindowGroupLimit prunes the rank.
@register(
    "stream_topk_trending",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
c AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n_events
  FROM ev GROUP BY 1, 2)
SELECT window_start, event_type, n_events, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rnk
  FROM c)
WHERE rnk <= 3""",
)
def stream_topk_trending(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment — the canonical streaming-ETL join: the event
# firehose enriched against a slowly-changing dimension (customer
# master), aggregated per (tumbling hour, market segment). ONE code path
# (streaming/chat_stream.py::enriched_metrics) serves both the live
# stream (test_streaming.py drives a file stream through it) and this
# batch mirror; the dim side is broadcast (re-used across micro-batches,
# never reshuffled with the stream).
@register(
    "stream_static_enrich",
    f"""WITH {DUCK_EVENTS}
SELECT date_trunc('hour', ts) AS window_start, c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM ev JOIN customer ON user_id = c_custkey
GROUP BY window_start, c_mktsegment""",
)
def stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.chat_stream import enriched_metrics

    return enriched_metrics(
        events_table(spark, sf), table(spark, sf, "customer")
    )


# ---------------------------------------------------------------------------
# Hourly anomaly z-scores — the monitoring query over the event stream's
# materialized hourly counts: hours whose count deviates >= 2 sigma from
# that event type's mean. Mean/variance come from EXACT integer sums
# (count, sum, sum-of-squares are all BIGINT), so the only float work is
# the final fixed-order expression — identical text on both engines —
# and the z-score is round(·,9). At scale this runs over the streaming
# aggregate's sink (750 rows per month per type), not the raw events.
@register(
    "stream_anomaly_hours",
    f"""WITH {DUCK_EVENTS},
c AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
  FROM ev GROUP BY event_type, hr),
st AS (
  SELECT event_type,
         count(*) AS n_hours,
         sum(cnt) AS s1,
         sum(cnt * cnt) AS s2
  FROM c GROUP BY event_type)
SELECT c.event_type, c.hr, CAST(c.cnt AS BIGINT) AS cnt,
       round(((c.cnt - CAST(s1 AS DOUBLE) / n_hours)
             / sqrt(CAST(s2 AS DOUBLE) / n_hours
                    - (CAST(s1 AS DOUBLE) / n_hours)
                      * (CAST(s1 AS DOUBLE) / n_hours))) * 1e9) / 1e9
         AS zscore
FROM c JOIN st ON c.event_type = st.event_type
WHERE s2 * n_hours > s1 * s1
  AND abs((c.cnt - CAST(s1 AS DOUBLE) / n_hours)
          / sqrt(CAST(s2 AS DOUBLE) / n_hours
                 - (CAST(s1 AS DOUBLE) / n_hours)
                   * (CAST(s1 AS DOUBLE) / n_hours))) >= 2.0""",
)
def stream_anomaly_hours(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_table(spark, sf)
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    st = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    var = F.col("s2").cast("double") / F.col("n_hours") - mean * mean
    z = (F.col("cnt") - mean) / F.sqrt(var)
    return (
        c.join(st, "event_type")
        .where(
            (F.col("s2") * F.col("n_hours") > F.col("s1") * F.col("s1"))
            & (F.abs(z) >= 2.0)
        )
        .select(
            "event_type",
            "hr",
            F.col("cnt").cast("long").alias("cnt"),
            dblround(z, 9).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Batch mirror of streaming/chat_stream.tws_type_counts — the
# transformWithStateInPandas processor's at-rest contract: per-user
# total event count and distinct-event-type cardinality. The live
# stream keeps (ValueState total, MapState per-type) so its state is
# bounded by the type vocabulary; at rest the same answer is one
# partial-agg'd groupBy. The live test drives the processor across
# micro-batches and must converge to exactly this frame.
@register(
    "stream_tws_type_counts",
    """SELECT user_id,
       count(*) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
GROUP BY user_id""",
)
def stream_tws_type_counts(spark: SparkSession, sf: str) -> DataFrame:
    return (
        events_table(spark, sf)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").cast("long").alias("n_types"),
        )
    )


# ---------------------------------------------------------------------------
# LEFT OUTER stream-stream interval join, batch-mirrored (live path:
# streaming/chat_stream.py::interval_join_outer, live-tested in
# tests/test_streaming.py): every purchase emits — with its trailing-
# hour view count, or null-extended (n_views=0, first_view_id NULL)
# when no view preceded it. In the live run the null extension waits
# for the watermark to pass the purchase's event time; in batch all
# data is in, so the LEFT JOIN states the same final result the stream
# converges to — exactly the property the live test pins.
@register(
    "stream_interval_join_outer",
    """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
v AS (SELECT user_id, ts AS v_ts, event_id AS view_id FROM ev WHERE event_type = 'view'),
p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_id FROM ev WHERE event_type = 'purchase'),
j AS (
  SELECT p.user_id, p.purchase_id, v.view_id
  FROM p LEFT JOIN v ON v.user_id = p.user_id
   AND v.v_ts <= p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR)
SELECT user_id, purchase_id,
       count(view_id) AS n_views,
       CAST(min(view_id) AS BIGINT) AS first_view_id
FROM j GROUP BY user_id, purchase_id""",
)
def stream_interval_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.chat_stream import interval_join_outer

    ev = events_table(spark, sf)
    views = ev.where(F.col("event_type") == "view")
    buys = ev.where(F.col("event_type") == "purchase")
    joined = interval_join_outer(views, buys)
    return joined.groupBy("user_id", "purchase_id").agg(
        F.count("view_id").alias("n_views"),
        F.min("view_id").cast("long").alias("first_view_id"),
    )
