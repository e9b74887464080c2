"""Structured Streaming — SURVEY §2.9.

The reference's streaming-shaped semantics (chat events appended
one-by-one with event time, unbounded per-session memory, per-turn cost
metrics — ``micro-infobot/app.py:43-71, 227-283``) expressed natively:

* ``stream_events`` — file/rate stream of the events schema
* ``tumbling_metrics`` — watermarked tumbling-window aggregates (late
  rows beyond the watermark are dropped, the reference had no such notion
  because it was single-process and always ordered)
* ``session_metrics`` — event-time session windows (gap-based)
* ``stateful_session_state`` — ``applyInPandasWithState`` keyed by user:
  the ConversationBufferMemory equivalent (running turn count + token
  totals with a processing-timeout eviction)

The same aggregations run as batch in ``plans/queries_streaming.py``
(``stream_tumbling_1h`` / ``stream_session_windows``) where the DuckDB
oracle checks them — Structured Streaming reuses identical expressions,
so the batch gate covers the logic and the tests here cover the stream
machinery (triggers, watermark, state).
"""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),
        StructField("props", StringType()),
    ]
)


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based event stream (json lines with the events schema)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def tumbling_metrics(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window per-event-type metrics (A5-shaped)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sliding_metrics(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (overlapping) windows: each event lands in
    window/slide windows. ONE code path for both engines — the batch
    mirror ``stream_sliding_2h1h`` calls this too (watermark applies
    only on a streaming source; batch reads are complete by
    definition)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@contextmanager
def bounded_state_partitions(
    spark: SparkSession,
    expected_keys: int,
    rows_per_partition: int = 1000,
):
    """Scope ``spark.sql.shuffle.partitions`` (which fixes a NEW streaming
    query's state-store partition count for the checkpoint's lifetime) to
    the aggregation's known state-key cardinality bound.

    Windowed-aggregation state is bounded by (event-time span / window) ×
    key cardinality and does NOT grow with input rows — the watermark
    evicts closed windows, and map-side partial aggregation means the
    shuffle moves per-(map-task, key) partials, not events. Meanwhile
    every state partition pays a FIXED per-micro-batch commit (delta file
    write + maintenance) regardless of how few rows it holds. Measured on
    the 1M-row live tumbling leg (~3.6k state keys): 32 partitions
    3.43 s, 8 → 1.98 s, 4 → 1.75 s, values identical. The count is
    clamped to the session's configured shuffle partitions, so a query
    whose key bound is genuinely large keeps the cores-scaled session
    default — this only ever REMOVES fixed per-partition commit cost,
    never parallelism that volume needs (map-side parallelism comes from
    input splits, not this setting).

    Run ``start()`` AND ``awaitTermination()``/``stop()`` inside the
    scope: the conf is captured into the checkpoint's offset log when the
    first micro-batch is constructed, which can be after ``start()``
    returns. Restarts of an EXISTING checkpoint are unaffected — Spark
    replays the partition count recorded in the offset log.
    """
    key = "spark.sql.shuffle.partitions"
    current = int(spark.conf.get(key))
    n = max(1, min(-(-int(expected_keys) // int(rows_per_partition)), current))
    spark.conf.set(key, str(n))
    try:
        yield n
    finally:
        spark.conf.set(key, str(current))


def session_metrics(
    events: DataFrame,
    gap: str = "12 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Event-time session windows per user (gap-based)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def interval_join(
    views: DataFrame,
    purchases: DataFrame,
    watermark: str = "2 hours",
    max_lag: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's view events within ``[p.ts - max_lag, p.ts]`` — the classic
    attribution join. Watermarks on BOTH inputs plus the time-bound join
    condition let Spark evict buffered state (a stream-stream join
    without them grows state forever); inner-join matches emit as soon
    as both sides arrive. Batch-mirrored (same expressions) by
    ``stream_interval_join`` where the DuckDB oracle checks values.
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_lag}"))
    )
    return v.join(p, cond).select(
        F.col("p_user").alias("user_id"), "purchase_id", "view_id", "v_ts", "p_ts"
    )


def interval_join_outer(
    views: DataFrame,
    purchases: DataFrame,
    watermark: str = "2 hours",
    max_lag: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    matched rows as soon as both sides arrive, UNMATCHED purchases
    null-extended only once the watermark passes ``p.ts`` (before that
    a matching view could still arrive, so the engine must hold the row
    back). That deferred null-extension is the semantic difference from
    the inner form (``interval_join``) and the reason outer stream-stream
    joins REQUIRE a watermark: without one, "no match ever" is
    undecidable and state is unbounded. Batch-mirrored by
    ``stream_interval_join_outer`` (withWatermark is a no-op in batch;
    the join semantics are identical once all data is in).
    """
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_lag}"))
    )
    return p.join(v, cond, "leftOuter").select(
        F.col("p_user").alias("user_id"), "purchase_id", "view_id", "v_ts", "p_ts"
    )


STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("total_value", LongType()),
    ]
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_turns", LongType()),
        StructField("total_value", LongType()),
    ]
)


def _update_session(key, pdf_iter, state: GroupState):
    """Running per-user turn/value totals — the ConversationBufferMemory
    analogue (unbounded per-key accumulate across micro-batches)."""
    (user_id,) = key
    n, v = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        v += int(pd.to_numeric(pdf["value"], errors="coerce").fillna(0).sum())
    state.update((n, v))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_turns": [n], "total_value": [v]}
    )


def stateful_session_state(events: DataFrame) -> DataFrame:
    """applyInPandasWithState keyed by user_id (SURVEY §2.9 row 2)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_session,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("first_view", TimestampType()),
        StructField("first_purchase", TimestampType()),
    ]
)

FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_view", TimestampType()),
        StructField("first_purchase", TimestampType()),
        StructField("converted", BooleanType()),
        StructField("us_to_convert", LongType()),
    ]
)


def _update_funnel(key, pdf_iter, state: GroupState):
    """Per-user view→purchase funnel state: earliest view, earliest
    purchase strictly after it. State is two timestamps per user —
    bounded regardless of stream length. Exact when a user's views are
    not delivered in a LATER micro-batch than the purchases they
    precede (the watermark-ordered feed case); the batch mirror
    ``stream_funnel`` is the at-rest oracle."""
    (user_id,) = key
    fv, fp = state.get if state.exists else (None, None)
    # state roundtrips as datetime.datetime; pdf["ts"] is pandas
    # Timestamp — normalize so comparisons and .value work uniformly
    fv = pd.Timestamp(fv) if fv is not None else None
    fp = pd.Timestamp(fp) if fp is not None else None
    for pdf in pdf_iter:
        views = pdf.loc[pdf["event_type"] == "view", "ts"]
        if len(views):
            mv = views.min()
            if fv is None or mv < fv:
                fv, fp = mv, None  # earlier view resets the purchase race
        if fv is not None:
            purchases = pdf.loc[
                (pdf["event_type"] == "purchase") & (pdf["ts"] > fv), "ts"
            ]
            if len(purchases):
                mp = purchases.min()
                if fp is None or mp < fp:
                    fp = mp
    state.update((fv, fp))
    if fv is None:  # purchase-only users: not in the funnel (yet)
        return
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "first_view": [fv],
            "first_purchase": [fp],
            "converted": [fp is not None],
            "us_to_convert": [
                None
                if fp is None
                else (fp.value - fv.value) // 1000  # ns → us
            ],
        }
    )


def funnel_state(events: DataFrame) -> DataFrame:
    """Streaming view→purchase conversion funnel via
    ``applyInPandasWithState`` (batch mirror: catalog
    ``stream_funnel``). NoTimeout: local availableNow runs hang with
    ProcessingTimeTimeout (see tests)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_funnel,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TWS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_types", LongType()),
    ]
)


class TypeCountsProcessor:
    """``transformWithStateInPandas`` processor — the successor API to
    ``applyInPandasWithState`` (Spark 4: typed state primitives, timers,
    TTL; requires the RocksDB state store provider). Per user: total
    event count in a ValueState, per-event-type counts in a MapState —
    the distinct-type cardinality falls out of the map's key set without
    ever storing raw events, so state is bounded by the type vocabulary,
    not the stream. Batch mirror: catalog ``stream_tws_type_counts``
    (count + count_distinct per user), where the DuckDB oracle checks
    the values; the live test drives this class across micro-batches.
    """

    def init(self, handle):
        self._total = handle.getValueState("total", "n long")
        self._per_type = handle.getMapState(
            "per_type", "event_type string", "n long"
        )

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        n = self._total.get()[0] if self._total.exists() else 0
        for pdf in rows:
            n += len(pdf)
            for etype, cnt in pdf.groupby("event_type").size().items():
                prev = (
                    self._per_type.getValue((etype,))[0]
                    if self._per_type.containsKey((etype,))
                    else 0
                )
                self._per_type.updateValue((etype,), (prev + int(cnt),))
        self._total.update((n,))
        n_types = sum(1 for _ in self._per_type.keys())
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "n_types": [n_types],
            }
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def handleInitialState(self, key, initialState, timerValues):
        pass

    def close(self):
        pass


def tws_type_counts(events: DataFrame) -> DataFrame:
    """Per-user running (event count, distinct-type count) via
    ``transformWithStateInPandas``. Caller must run with
    ``spark.sql.streaming.stateStore.providerClass =
    ...RocksDBStateStoreProvider`` (the TWS operator's requirement)."""
    from pyspark.sql.streaming import StatefulProcessor

    # subclass dynamically so the module imports even if the
    # StatefulProcessor ABC moves; the methods above are the contract
    proc = type(
        "TypeCountsStatefulProcessor",
        (TypeCountsProcessor, StatefulProcessor),
        {},
    )()
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def dedup_events_stream(
    stream: DataFrame,
    keys: tuple = ("user_id", "event_type"),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup: keep the FIRST event per key, dropping duplicates
    that arrive within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state is evicted once the
    watermark passes, so state size is bounded by the horizon, not the
    stream length). Batch mirror: ``stream_dedup`` in the catalog
    (row_number = 1 per key). At scale the dedup state is hash-partitioned
    by key — the same shuffle a batch groupBy would pay, amortized per
    micro-batch."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def enriched_metrics(
    events: DataFrame,
    dim: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a slowly-
    changing dimension (customer master), then aggregate revenue per
    (tumbling window, market segment).

    ONE code path for both engines — the batch mirror
    ``stream_static_enrich`` calls this with a batch frame. The dim side
    is marked broadcast: in a stream-static join the static side is
    re-usable across micro-batches and a customer master (even 10^9 rows
    of it) is dwarfed by a 100 TB event firehose; if the dim outgrows
    broadcast, Spark falls back to a per-batch shuffle join with the
    SAME semantics. The post-join aggregate is the standard watermarked
    tumbling shape (state bounded by the watermark horizon).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    joined = src.join(
        F.broadcast(dim.select("c_custkey", "c_mktsegment")),
        src["user_id"] == F.col("c_custkey"),
    )
    return (
        joined.groupBy(F.window("ts", window).alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "total_value",
        )
    )
