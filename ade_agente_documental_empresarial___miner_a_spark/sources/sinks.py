"""Chat-history sink — SURVEY §2.1 S6/S7.

Reference: per-turn ``insert_one`` of ``{user, message, response,
timestamp}`` into MongoDB (``micro-infobot/app.py:50-71``), connection URI
from env (S7).

Engine-native sink: append-mode Parquet table with the D4 schema
(SURVEY §1.1) — usage counters included, since cost analytics (A5) read
them. The Mongo connector path is config-gated (``spark.ade.mongo.uri``):
with the mongo-spark connector on the classpath the same DataFrame writes
via ``format("mongodb")``; without it we stay Parquet-native.

The store's reads live here too (``replay_tail`` and the ``turn_id``
counter behind ``append_chat_history``), so the choice between a footer
fast path and the exact Spark read is made in this one module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import CONF_DEFAULTS

_CHAT_ROW_SCHEMA = (
    "user string, message string, response string, ts timestamp, "
    "prompt_tokens long, completion_tokens long"
)
# turn_id: monotonically increasing per append batch — the deterministic
# tiebreaker for same-timestamp turns (timestamps have finite resolution;
# two turns in the same microsecond would otherwise make `ORDER BY ts
# LIMIT n` nondeterministic across runs).
CHAT_SCHEMA = _CHAT_ROW_SCHEMA + ", turn_id long"


def chat_store_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe for the chat store. Probing by catching
    the reader's AnalysisException works, but Spark 4's analyzer logs the
    full stack at ERROR before the Python side can swallow it — every
    first turn of a fresh conversation would splash a stack trace into
    the driver log. An fs.exists() call is silent and works for any
    Hadoop-compatible store path (local, HDFS, object store)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _is_local_store(spark: SparkSession, path: str) -> bool:
    """True when ``path`` resolves to the driver-local filesystem: no
    explicit URI scheme (hdfs://, s3a://, even file:) and a file: default
    FS. The same rule append_chat_history uses to pick the driver-side
    Arrow writer — Spark readers resolve bare paths against defaultFS,
    so anything else must go through the Hadoop readers/writers."""
    import re

    default_fs = spark._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///"
    )
    return not re.match(
        r"^[a-zA-Z][a-zA-Z0-9+.-]*:", path
    ) and default_fs.startswith("file:")


_FOOTER_MISS = object()  # sentinel: statistics could not prove the answer


def _footers(path: str, columns: list[str]):
    """``(file, footer metadata, {column: leaf index})`` for every
    visible file of a flat local store, or ``_FOOTER_MISS`` when the
    layout is not one the footer fast paths can reason about. Visible
    means what Spark's file index lists: dot- and underscore-prefixed
    names (a crashed ``.part-*.tmp``, ``_SUCCESS``, checksum files) are
    skipped. A visible SUBDIRECTORY (a partitioned or nested layout,
    whose files could hold higher keys) or a file lacking one of
    ``columns`` is a miss. An unreadable footer (a truncated file)
    raises, and the callers turn that into a miss: a file is never
    silently skipped."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in os.listdir(path):
        if name.startswith((".", "_")):
            continue
        full = os.path.join(path, name)
        if not os.path.isfile(full):
            return _FOOTER_MISS
        md = pq.ParquetFile(full).metadata
        names = md.schema.names
        if not all(c in names for c in columns):
            return _FOOTER_MISS
        out.append((full, md, {c: names.index(c) for c in columns}))
    return out


def _footer_max_turn_id(path: str):
    """Exact ``max(turn_id)`` from local parquet FOOTER statistics — the
    metadata-only fast path for the per-turn counter read (r10: the
    stateless chat tier paid a full Spark aggregation job per persisted
    turn just for this one long). Returns the max (or None for an empty/
    all-NULL store) only when every visible file's row groups carry
    provably-exact int64 min/max stats; any doubt → ``_FOOTER_MISS`` and
    the caller falls back to the Spark aggregation."""
    try:
        footers = _footers(path, ["turn_id"])
        if footers is _FOOTER_MISS:
            return _FOOTER_MISS
        best = None
        for _, md, idx in footers:
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx["turn_id"])
                st = col.statistics
                if st is None:
                    return _FOOTER_MISS
                if not st.has_min_max:
                    # exact only if provably all-NULL in this group
                    if st.has_null_count and st.null_count == col.num_values:
                        continue
                    return _FOOTER_MISS
                v = st.max
                if not isinstance(v, int):
                    return _FOOTER_MISS
                best = v if best is None else max(best, v)
        return best
    except Exception:  # noqa: BLE001 — any surprise → exact Spark path
        return _FOOTER_MISS


def _footer_user_tail(path: str, user: str, n: int):
    """Exact per-user replay tail — the driver-local fast path for the
    stateless tier's per-turn history read (r11; same discipline as
    ``_footer_max_turn_id``): the newest files by footer (max ts,
    max turn_id) are read driver-side with pyarrow until the user's top
    ``n`` rows by (ts, turn_id) are PROVABLY covered — a remaining file
    can be skipped only when its footer upper bound is strictly below
    the n-th best key already in hand. Returns the tail as
    [(message, response)] in ascending (ts, turn_id) order — exactly
    what ``replay_tail``'s Spark read produces — or ``_FOOTER_MISS``
    when anything is unprovable: a visible subdirectory, missing/
    unexpected columns, absent or non-int64/non-timestamp statistics,
    or any NULL ts/turn_id (the Spark path's nulls-last ordering is
    then authoritative). Work is O(covering files), independent of
    stored history depth. ``n == 0`` returns ``[]`` without reading a
    file; ``n < 0`` returns ``_FOOTER_MISS`` so the Spark path raises
    its own limit error.
    """
    if n == 0:
        return []
    if n < 0:
        return _FOOTER_MISS

    import json

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    need = ["user", "message", "response", "ts", "turn_id"]
    try:
        footers = _footers(path, need)
        if footers is _FOOTER_MISS:
            return _FOOTER_MISS
        files = []
        for full, md, idx in footers:
            # prove the physical layout BEFORE trusting any bound: ts
            # must be micros-unit UTC-adjusted, turn_id a plain INT64
            ts_sch = md.schema.column(idx["ts"])
            id_sch = md.schema.column(idx["turn_id"])
            ts_lt = json.loads(ts_sch.logical_type.to_json())
            if (
                ts_sch.physical_type != "INT64"
                or ts_lt.get("Type") != "Timestamp"
                or ts_lt.get("timeUnit") != "microseconds"
                or not ts_lt.get("isAdjustedToUTC")
                or id_sch.physical_type != "INT64"
            ):
                return _FOOTER_MISS
            bound = None  # (max_ts_us, max_turn) upper bound over groups
            n_rows = 0
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                ts_col, id_col = g.column(idx["ts"]), g.column(idx["turn_id"])
                ts_st, id_st = ts_col.statistics, id_col.statistics
                if (
                    ts_st is None
                    or id_st is None
                    or not ts_st.has_min_max
                    or not id_st.has_min_max
                    or not ts_st.has_null_count
                    or not id_st.has_null_count
                    or ts_st.null_count
                    or id_st.null_count
                    or ts_col.num_values != g.num_rows
                    or id_col.num_values != g.num_rows
                ):
                    # all-empty groups carry no stats but also no rows
                    if g.num_rows == 0:
                        continue
                    return _FOOTER_MISS
                ts_max, id_max = ts_st.max, id_st.max
                # exact micros since epoch; anything else is a layout
                # this reader does not understand
                if not isinstance(id_max, int):
                    return _FOOTER_MISS
                try:
                    ts_max_us = _utc_us(ts_max)
                except (TypeError, ValueError):
                    return _FOOTER_MISS
                cand = (ts_max_us, id_max)
                bound = cand if bound is None or cand > bound else bound
                n_rows += g.num_rows
            if n_rows:
                files.append((bound, full))

        files.sort(key=lambda f: f[0], reverse=True)
        acc: list[tuple[int, int, object, object]] = []
        kth = None  # n-th best (ts, turn_id) among acc, once len >= n
        for bound, full in files:
            if kth is not None and kth > bound:
                break  # strictly above every remaining row's key
            tbl = pq.read_table(full, columns=need)
            ts_type = tbl.column("ts").type
            if not (
                pa.types.is_timestamp(ts_type)
                and ts_type.unit == "us"
                and ts_type.tz is not None
            ):
                # any other unit/adjustment would mix units with the
                # footer bounds computed by _utc_us — not this layout
                return _FOOTER_MISS
            tbl = tbl.filter(pc.equal(tbl.column("user"), user))
            if tbl.num_rows == 0:
                continue
            ts_us = tbl.column("ts").cast(pa.int64()).to_pylist()
            ids = tbl.column("turn_id").to_pylist()
            msgs = tbl.column("message").to_pylist()
            resps = tbl.column("response").to_pylist()
            if any(v is None for v in ts_us) or any(v is None for v in ids):
                return _FOOTER_MISS
            acc.extend(zip(ts_us, ids, msgs, resps))
            if len(acc) >= n:
                acc.sort(key=lambda r: (r[0], r[1]), reverse=True)
                del acc[n:]
                kth = (acc[-1][0], acc[-1][1])
        acc.sort(key=lambda r: (r[0], r[1]))
        return [(m, r) for _, _, m, r in acc[-n:]]
    except Exception:  # noqa: BLE001 — any surprise → exact Spark path
        return _FOOTER_MISS


def _utc_us(ts) -> int:
    """Exact microseconds since epoch of a parquet footer timestamp
    statistic (pyarrow converts TIMESTAMP_MICROS stats to datetime —
    tz-aware for isAdjustedToUTC writers like Spark and this module's
    Arrow appender; a naive datetime here would be a non-UTC-adjusted
    layout this reader must not guess about)."""
    from datetime import datetime, timezone

    if not isinstance(ts, datetime) or ts.tzinfo is None:
        raise TypeError(f"unprovable ts statistic: {ts!r}")
    delta = ts - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _next_turn_id(spark: SparkSession, path: str) -> int:
    # ONLY the missing-history case may restart numbering at 0. A
    # transient read failure must propagate — swallowing it would
    # assign duplicate turn_ids and corrupt the same-timestamp
    # tiebreaker replay_tail depends on. With the explicit existence
    # probe there is no except-clause left to mis-swallow it.
    if not chat_store_exists(spark, path):
        return 0
    if _is_local_store(spark, path):
        m = _footer_max_turn_id(path)
        if m is not _FOOTER_MISS:
            return (m if m is not None else -1) + 1
    prev = read_chat_history(spark, path)
    row = prev.agg(F.max("turn_id").alias("m")).collect()[0]
    return (row.m if row.m is not None else -1) + 1


def replay_tail(
    spark: SparkSession, path: str, user: str, n: int | None
) -> list[tuple[str, str]]:
    """``user``'s replay buffer from the store (T7 history replay,
    app.py:228-242): ``[(message, response)]`` in turn order — by ts,
    then turn_id — holding the newest ``n`` turns, or every turn when
    ``n`` is None.

    The read path is chosen here. A missing store is a first turn and
    gives ``[]``; any other read failure surfaces (the same contract as
    ``_next_turn_id``). A bounded tail of a driver-local store is served
    from footer-pruned pyarrow reads (``_footer_user_tail``: zero Spark
    jobs, work O(covering files) not O(history)). Every other store,
    full replay, and every ``_FOOTER_MISS`` (nested layout, NULL keys,
    foreign schema, unreadable file) take the exact Spark read, whose
    cap is applied BEFORE collect (orderBy desc + limit → per-partition
    top-n heaps), so the driver holds O(n) rows however deep the
    history."""
    if not chat_store_exists(spark, path):
        return []
    if n is not None and _is_local_store(spark, path):
        tail = _footer_user_tail(path, user, n)
        if tail is not _FOOTER_MISS:
            return tail
    hist = read_chat_history(spark, path).where(F.col("user") == user)
    if n is None:
        rows = hist.orderBy("ts", F.asc_nulls_first("turn_id")).collect()
    else:
        # turn_id breaks same-timestamp ties deterministically; the
        # newest-first rows are reversed into the full replay's order
        newest = hist.orderBy(F.desc("ts"), F.desc_nulls_last("turn_id"))
        rows = newest.limit(n).collect()[::-1]
    return [(r.message, r.response) for r in rows]


def _arrow_append(rows: list[tuple], path: str) -> None:
    """Driver-side parquet append: one Arrow file per batch, written to
    a dot-prefixed temp name and atomically renamed (readers ignore
    dot-files, so a crash mid-write leaves no visible partial file).

    Rationale: a chat turn appends a HANDFUL of rows, and a Spark write
    job for that costs a scheduler round-trip plus the Hadoop commit
    protocol (~0.3 s per turn measured at sf0.1) — against ~3 ms here.
    The reference's per-turn write is a sub-millisecond client-side
    ``insert_one`` (micro-infobot/app.py:50-71); a driver-side Arrow
    write is its engine-native analogue, same class of bounded driver
    edge as the replay-buffer collect. The store stays plain parquet:
    ``read_chat_history`` and every downstream aggregate read Spark-
    and-Arrow-written batches interchangeably (equivalence test-pinned).
    The chat store is conversation-scale, not corpus-scale — the
    single-writer driver append is the contract (`_next_turn_id`), not
    a bottleneck."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "user": pa.array([r[0] for r in rows], pa.string()),
            "message": pa.array([r[1] for r in rows], pa.string()),
            "response": pa.array([r[2] for r in rows], pa.string()),
            "ts": pa.array(
                [r[3] for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "prompt_tokens": pa.array([r[4] for r in rows], pa.int64()),
            "completion_tokens": pa.array(
                [r[5] for r in rows], pa.int64()
            ),
            "turn_id": pa.array([r[6] for r in rows], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def append_chat_history(
    spark: SparkSession,
    rows: list[tuple],
    path: str,
    base_turn_id: int | None = None,
) -> int:
    """Append chat turns (S6). ``rows`` are (user, message, response,
    ts, prompt_tokens, completion_tokens) tuples; ts=None → now()
    (one shared batch timestamp, matching current_timestamp()'s
    per-query evaluation); NAIVE timestamps are interpreted in
    ``spark.sql.session.timeZone`` — this sink's OWN contract, pinned
    by test, so every store type (local Arrow file, Hadoop-FS Spark
    write, mongo connector) persists the identical instant regardless
    of the driver host's OS zone. (The pre-round-6 Spark-write path
    interpreted naive datetimes via the driver's OS zone —
    ``TimestampType.toInternal`` uses ``time.mktime`` — so stores
    written by it on non-UTC hosts may disagree with this rule on
    naive inputs; aware inputs were and are unambiguous.) Each row
    gets a persisted ``turn_id`` continuing from the stored history
    (single-writer append, as in the reference's chat loop).
    ``base_turn_id`` lets a caller that already knows the counter (a
    live ChatSession holding it in RAM) skip the read-before-write;
    when omitted the stored max is re-derived. Returns the next
    ``turn_id``, the counter a single writer passes to its next append.
    The connector branch writes to the database and collection named
    by ``spark.ade.mongo.db`` / ``spark.ade.mongo.collection``."""
    from datetime import datetime, timezone

    try:
        from zoneinfo import ZoneInfo

        session_tz = ZoneInfo(
            spark.conf.get("spark.sql.session.timeZone", "UTC")
        )
    except Exception:  # unparseable zone id (e.g. raw GMT offsets)
        session_tz = timezone.utc

    base = _next_turn_id(spark, path) if base_turn_id is None else base_turn_id
    now = datetime.now(timezone.utc)

    def _aware(ts):
        if ts is None:
            return now
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=session_tz)
        # Normalize to UTC HERE, not at the Arrow boundary: pyarrow's
        # tz-typed array constructor (verified on 16.x) takes each
        # datetime's wall clock verbatim and discards its tzinfo, so a
        # 12:00+09:00 handed to pa.timestamp('us', tz='UTC') would be
        # stored as 12:00Z. astimezone(utc) keeps the instant identical
        # for the Spark/mongo branches and makes it explicit for Arrow.
        return ts.astimezone(timezone.utc)

    full = [
        (r[0], r[1], r[2], _aware(r[3]), r[4], r[5], base + i)
        for i, r in enumerate(rows)
    ]

    def _spark_df():
        # single-slice: one task, one file per append batch — the
        # single-writer shape the turn_id contract assumes
        return spark.createDataFrame(
            spark.sparkContext.parallelize(full, 1), CHAT_SCHEMA
        )

    mongo_uri = spark.conf.get("spark.ade.mongo.uri", None)
    if mongo_uri:
        db, coll = (
            spark.conf.get(k, CONF_DEFAULTS[k])
            for k in ("spark.ade.mongo.db", "spark.ade.mongo.collection")
        )
        (
            _spark_df().write.format("mongodb")
            .mode("append")
            .option("connection.uri", mongo_uri)
            .option("database", db)
            .option("collection", coll)
            .save()
        )
    elif not _is_local_store(spark, path):
        # explicit URI scheme (hdfs://, s3a://, even file:) OR a bare
        # path under a non-local fs.defaultFS: the driver-side write
        # below is local-FS only, and Spark readers resolve bare paths
        # against defaultFS — writing locally would silently split the
        # store across filesystems. Keep the Spark writer, which speaks
        # every Hadoop filesystem.
        _spark_df().write.mode("append").parquet(path)
    else:
        _arrow_append(full, path)
    return base + len(rows)


def read_chat_history(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(CHAT_SCHEMA).parquet(path)


def session_transcripts(chat: DataFrame) -> DataFrame:
    """Reconstruct per-user conversation state (the reference's
    ConversationBufferMemory, app.py:43-44) as ordered message structs."""
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "message", "response"))
    )
    return chat.groupBy("user").agg(
        F.flatten(
            F.transform(
                ordered,
                lambda x: F.array(
                    F.struct(
                        F.lit("user").alias("role"),
                        x["message"].alias("content"),
                    ),
                    F.struct(
                        F.lit("assistant").alias("role"),
                        x["response"].alias("content"),
                    ),
                ),
            )
        ).alias("messages"),
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("prompt_tokens").alias("prompt_tokens"),
        F.sum("completion_tokens").alias("completion_tokens"),
        (
            F.sum("prompt_tokens") * F.lit(0.00001)
            + F.sum("completion_tokens") * F.lit(0.00003)
        ).alias("cost_usd"),
    )
