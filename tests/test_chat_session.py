"""ChatSession serving mode — RAM-resident replay buffer + turn
counter, equivalent to the stateless `answer_question` loop.

The reference's conversation memory is RAM-resident
(st.session_state.memory, micro-infobot/app.py:43-44, 228-242) and the
store is write-only per turn (app.py:258); ChatSession is that runtime
shape. These tests pin the equivalence contract: same questions ⇒ same
prompts, answers, and persisted rows as the stateless loop, plus
counter/buffer resume across sessions.
"""

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
    ChatSession,
    answer_question,
)
from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
    build_chunks,
)
from ade_agente_documental_empresarial___miner_a_spark.sources import sinks
from ade_agente_documental_empresarial___miner_a_spark.sources.sinks import (
    append_chat_history,
    read_chat_history,
    replay_tail,
)


def make_index(spark):
    docs = spark.createDataFrame(
        [
            (1, "SPARK TUNING\n\nbroadcast small tables. avoid shuffles"),
            (2, "COST MODEL\n\nprompt tokens cost less than completion tokens"),
        ],
        "doc_id long, text string",
    )
    return build_chunks(docs)


QUESTIONS = [
    "how do I tune spark joins",
    "what do completion tokens cost",
    "summarize the tuning advice",
]


def test_session_matches_stateless_loop(spark, tmp_path):
    """Turn-by-turn, a live session and the stateless loop produce
    byte-identical prompts/answers and identical persisted histories."""
    chunks = make_index(spark)
    p_loop = str(tmp_path / "loop")
    p_sess = str(tmp_path / "sess")

    sess = ChatSession(spark, chunks, "ana", history_path=p_sess)
    for q in QUESTIONS:
        t_loop = answer_question(spark, chunks, "ana", q, history_path=p_loop)
        t_sess = sess.ask(q)
        assert t_sess.messages == t_loop.messages
        assert t_sess.answer == t_loop.answer
        assert t_sess.prompt_tokens == t_loop.prompt_tokens
        assert t_sess.cost_usd == t_loop.cost_usd

    cols = ["user", "message", "response", "prompt_tokens",
            "completion_tokens", "turn_id"]
    rows_loop = sorted(
        read_chat_history(spark, p_loop).select(*cols).collect(),
        key=lambda r: r.turn_id,
    )
    rows_sess = sorted(
        read_chat_history(spark, p_sess).select(*cols).collect(),
        key=lambda r: r.turn_id,
    )
    assert rows_sess == rows_loop
    assert [r.turn_id for r in rows_sess] == [0, 1, 2]


def test_session_resumes_counter_and_buffer(spark, tmp_path):
    """Constructed over an existing store, the session replays the tail
    and continues the persisted turn_id counter (the tail is read at
    construction and the counter at the first append, not per turn)."""
    chunks = make_index(spark)
    path = str(tmp_path / "chat")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    append_chat_history(
        spark,
        [("ana", f"q{i}", f"a{i}", base + dt.timedelta(minutes=i), 3, 2)
         for i in range(3)],
        path,
    )

    sess = ChatSession(spark, chunks, "ana", history_path=path)
    turn = sess.ask("next question")
    # replayed all 3 stored turns in order, as user/assistant pairs
    assert [m["content"] for m in turn.messages[1:7:2]] == ["q0", "q1", "q2"]
    assert [m["content"] for m in turn.messages[2:7:2]] == ["a0", "a1", "a2"]
    stored = read_chat_history(spark, path).orderBy("turn_id").collect()
    assert [r.turn_id for r in stored] == [0, 1, 2, 3]
    assert stored[-1].message == "next question"


def test_session_bounded_buffer(spark, tmp_path):
    """With last_n_turns=2 the RAM buffer trims to the same window the
    stateless tier would replay from the store."""
    chunks = make_index(spark)
    sess = ChatSession(
        spark, chunks, "ana", history_path=str(tmp_path / "c"), last_n_turns=2
    )
    for q in ["one", "two", "three"]:
        sess.ask(q)
    turn = sess.ask("four")
    replayed = [m["content"] for m in turn.messages[1:5:2]]
    assert replayed == ["two", "three"]


def test_session_without_store(spark):
    """history_path=None: pure in-RAM session, no persistence jobs."""
    chunks = make_index(spark)
    sess = ChatSession(spark, chunks, "ana")
    sess.ask("first")
    turn = sess.ask("second")
    assert turn.messages[1]["content"] == "first"


def test_session_job_budget(spark, tmp_path):
    """The serving contract: after its first turn, a session's turn
    launches exactly ONE Spark job — the retrieval collect; the history
    append is a driver-side Arrow write since round 6, and the counter
    lives in RAM."""
    chunks = make_index(spark)
    # materialize the index first so retrieval doesn't re-run the
    # chunk build lineage inside the counted window
    chunks = chunks.persist()
    chunks.count()
    sess = ChatSession(spark, chunks, "ana", history_path=str(tmp_path / "c"))
    sess.ask("warm")  # first append also creates the directory

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    sess.ask("counted question")
    after = tracker.getJobIdsForGroup(None)
    new_jobs = set(after) - set(before)
    assert len(new_jobs) <= 1, (
        f"session turn launched {len(new_jobs)} jobs, expected <=1"
    )
    chunks.unpersist()


def test_next_turn_id_footer_fast_path_matches_spark(spark, tmp_path):
    # r10 optimization pin: for a local store the per-turn counter read
    # comes from parquet FOOTER statistics (zero Spark jobs) and must
    # equal the Spark aggregation exactly — across multiple append
    # batches, a fresh user joining other users' history, and a store
    # whose turn_ids are all NULL (footer stats unprovable -> exact
    # Spark fallback).
    from pyspark.sql import functions as F

    from ade_agente_documental_empresarial___miner_a_spark.sources.sinks import (
        _footer_max_turn_id,
        _FOOTER_MISS,
        _next_turn_id,
        append_chat_history,
        read_chat_history,
    )

    path = str(tmp_path / "hist")
    append_chat_history(
        spark, [("vera", f"q{i}", f"a{i}", None, 3, 2) for i in range(4)], path
    )
    append_chat_history(spark, [("ana", "q", "a", None, 3, 2)], path)
    spark_max = read_chat_history(spark, path).agg(
        F.max("turn_id")
    ).collect()[0][0]
    assert _footer_max_turn_id(path) == spark_max == 4
    assert _next_turn_id(spark, path) == 5

    # all-NULL turn_id file: stats cannot prove a max -> Spark fallback
    import pyarrow as pa
    import pyarrow.parquet as pq

    null_tbl = pa.table(
        {
            "user": ["x"],
            "message": ["m"],
            "response": ["r"],
            "ts": pa.array([None], pa.timestamp("us", tz="UTC")),
            "prompt_tokens": pa.array([1], pa.int64()),
            "completion_tokens": pa.array([1], pa.int64()),
            "turn_id": pa.array([None], pa.int64()),
        }
    )
    pq.write_table(null_tbl, str(tmp_path / "hist" / "part-null.parquet"))
    got = _footer_max_turn_id(path)
    assert got == 4 or got is _FOOTER_MISS  # all-NULL group skipped or miss
    assert _next_turn_id(spark, path) == 5  # either way: exact


def test_stateless_turn_job_budget(spark, tmp_path):
    """r10/r11 optimization pin: one stateless turn against a local store
    = ONE Spark job (the retrieval collect). The pre-r10 loop paid three:
    a max(turn_id) aggregation at append time (r10: served from parquet
    footer statistics) and a history-tail read per turn (r11: served by
    the driver-side footer-pruned pyarrow tail with exact Spark
    fallback)."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
        answer_question,
    )

    chunks = make_index(spark).persist()
    chunks.count()
    hist = str(tmp_path / "h")
    answer_question(spark, chunks, "ana", "warm", history_path=hist)

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    answer_question(spark, chunks, "ana", "counted", history_path=hist)
    after = tracker.getJobIdsForGroup(None)
    new_jobs = set(after) - set(before)
    assert len(new_jobs) <= 1, (
        f"stateless turn launched {len(new_jobs)} jobs, expected <=1"
    )
    chunks.unpersist()


def test_footer_user_tail_matches_spark(spark, tmp_path):
    """r11 optimization pin: the driver-side footer-pruned tail read must
    equal the Spark expression (filter user -> orderBy ts desc, turn_id
    desc_nulls_last -> limit n -> ascending re-sort) across multi-file
    stores, interleaved users, ts order NOT matching file order, and n
    larger than the stored history; NULL ts routes to _FOOTER_MISS."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from ade_agente_documental_empresarial___miner_a_spark.sources.sinks import (
        _FOOTER_MISS,
        _footer_user_tail,
        append_chat_history,
        read_chat_history,
    )

    path = str(tmp_path / "hist")
    t = lambda h, m=0: datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)  # noqa: E731
    # batch 1: newest-ts rows live in the OLDEST file (prunes must not
    # trust file order); batch 2/3: interleaved users, duplicate ts
    # within a user (turn_id tiebreaker decides)
    append_chat_history(
        spark,
        [("ana", "m0", "r0", t(20), 1, 1), ("bob", "bm0", "br0", t(21), 1, 1),
         ("ana", "m1", "r1", t(5), 1, 1)],
        path,
    )
    append_chat_history(
        spark,
        [("ana", "m2", "r2", t(6), 1, 1), ("ana", "m3", "r3", t(6), 1, 1),
         ("bob", "bm1", "br1", t(1), 1, 1)],
        path,
    )
    append_chat_history(
        spark, [("ana", "m4", "r4", t(7), 1, 1)], path
    )

    def spark_tail(user, n):
        hist = read_chat_history(spark, path).where(F.col("user") == user)
        tail = hist.orderBy(
            F.desc("ts"), F.desc_nulls_last("turn_id")
        ).limit(n)
        past = sorted(tail.collect(), key=lambda r: (r.ts, r.turn_id))
        return [(x.message, x.response) for x in past]

    for user in ["ana", "bob", "nobody"]:
        for n in [1, 2, 3, 50]:
            fast = _footer_user_tail(path, user, n)
            assert fast is not _FOOTER_MISS
            assert fast == spark_tail(user, n), (user, n)

    # n == 0: empty like limit(0), decided before any file is opened;
    # n < 0: Spark rejects the limit, so the fast path must defer to it
    assert _footer_user_tail(str(tmp_path / "absent"), "ana", 0) == []
    assert spark_tail("ana", 0) == []
    assert _footer_user_tail(path, "ana", -1) is _FOOTER_MISS
    with pytest.raises(Exception, match="INVALID_LIMIT_LIKE_EXPRESSION"):
        spark_tail("ana", -1)

    # file pruning actually fires: with n=1 the newest-bound file
    # suffices for ana's tail (m0 at t=20 is in the file with the
    # global max ts), so at most 2 of 3 files are opened for data
    import pyarrow.parquet as pq_mod

    opened = []
    real_read = pq_mod.read_table

    def counting_read(f, *a, **kw):
        opened.append(f)
        return real_read(f, *a, **kw)

    pq_mod.read_table = counting_read
    try:
        got = _footer_user_tail(path, "ana", 1)
    finally:
        pq_mod.read_table = real_read
    assert got == [("m0", "r0")]
    assert len(opened) < 3, f"no pruning: opened {opened}"

    # NULL ts anywhere visible -> unprovable -> Spark path decides
    import pyarrow as pa
    import pyarrow.parquet as pq

    null_tbl = pa.table(
        {
            "user": ["ana"], "message": ["mx"], "response": ["rx"],
            "ts": pa.array([None], pa.timestamp("us", tz="UTC")),
            "prompt_tokens": pa.array([1], pa.int64()),
            "completion_tokens": pa.array([1], pa.int64()),
            "turn_id": pa.array([99], pa.int64()),
        }
    )
    pq.write_table(null_tbl, str(tmp_path / "hist" / "part-null.parquet"))
    assert _footer_user_tail(path, "ana", 2) is _FOOTER_MISS

    # a visible subdirectory -> unprovable layout -> miss
    import os

    os.remove(str(tmp_path / "hist" / "part-null.parquet"))
    assert _footer_user_tail(path, "ana", 2) is not _FOOTER_MISS
    os.makedirs(str(tmp_path / "hist" / "extra_dir"))
    assert _footer_user_tail(path, "ana", 2) is _FOOTER_MISS


# ---------------------------------------------------------------------------
# Fault injection: each footer fast path either answers exactly as the
# Spark read would or misses; it never skips a file it cannot read. The
# same store addressed by a ``file://`` URI is not a driver-local store,
# so it always takes the exact Spark read and serves as the reference.

T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _arrow_file(path, name, ts, turn_ids, ts_type=pa.timestamp("us", "UTC"),
                id_type=pa.int64()):
    """One foreign parquet file of ana's turns, schema types overridden."""
    n = len(turn_ids)
    pq.write_table(
        pa.table({
            "user": ["ana"] * n,
            "message": [f"fm{i}" for i in turn_ids],
            "response": [f"fr{i}" for i in turn_ids],
            "ts": pa.array(ts, ts_type),
            "prompt_tokens": pa.array([1] * n, pa.int64()),
            "completion_tokens": pa.array([1] * n, pa.int64()),
            "turn_id": pa.array(turn_ids, id_type),
        }),
        os.path.join(path, name),
    )


def _truncated(spark, path):
    good = sorted(f for f in os.listdir(path) if f.startswith("part-"))[0]
    with open(os.path.join(path, good), "rb") as fh:
        data = fh.read()
    with open(os.path.join(path, "part-truncated.parquet"), "wb") as fh:
        fh.write(data[: len(data) // 2])


def _garbage_tmp(spark, path):
    with open(os.path.join(path, ".part-crashed.parquet.tmp"), "wb") as fh:
        fh.write(b"PAR1 half-written")


def _int32_turn_id(spark, path):
    _arrow_file(path, "part-int32.parquet",
                ts=[T0 + dt.timedelta(days=9)], turn_ids=[9],
                id_type=pa.int32())


def _string_ts(spark, path):
    _arrow_file(path, "part-strts.parquet", ts=["2024-02-01 00:00:00"],
                turn_ids=[9], ts_type=pa.string())


def _null_ts(spark, path):
    _arrow_file(path, "part-nullts.parquet", ts=[None], turn_ids=[9])


def _null_user(spark, path):
    append_chat_history(
        spark, [(None, "nobody's", "turn", T0 + dt.timedelta(days=2), 1, 1)],
        path,
    )


def _spark_written(spark, path):
    # the Spark writer (explicit URI scheme) under get_spark's conf, into
    # the same directory: the store now mixes both writers' files
    append_chat_history(
        spark, [("ana", "sm", "sr", T0 + dt.timedelta(days=3), 1, 1)],
        f"file://{path}",
    )


# case -> (fault, counter fast path hits, replay fast path hits)
FAULTS = {
    "truncated": (_truncated, False, False),
    "garbage_tmp": (_garbage_tmp, True, True),
    "int32_turn_id": (_int32_turn_id, True, False),
    "string_ts": (_string_ts, True, False),
    "null_ts": (_null_ts, True, False),
    "null_user": (_null_user, True, True),
    "spark_and_arrow": (_spark_written, True, True),
}


def _outcome(fn):
    """The value, or ``RuntimeError`` for any raise: a fault may fail a
    read, but then both paths must fail."""
    try:
        return fn()
    except Exception:  # noqa: BLE001
        return RuntimeError


@pytest.mark.parametrize("case", sorted(FAULTS))
def test_chat_store_fault_paths_agree(spark, tmp_path, case):
    """ROADMAP item 5: for each injected fault, ``replay_tail`` and
    ``append_chat_history``'s counter give the same answer on the local
    store (footer fast paths) as on the exact Spark read, or both raise;
    each fast path hits exactly on the stores it hit on before."""
    fault, max_hits, tail_hits = FAULTS[case]
    path = str(tmp_path / "hist")
    append_chat_history(
        spark,
        [("ana", f"m{i}", f"r{i}", T0 + dt.timedelta(hours=i), 1, 1)
         for i in range(3)] + [("bob", "bm", "br", T0, 1, 1)],
        path,
    )
    append_chat_history(
        spark, [("ana", "m3", "r3", T0 + dt.timedelta(hours=1), 1, 1)], path
    )
    fault(spark, path)

    miss = sinks._FOOTER_MISS
    assert (sinks._footer_max_turn_id(path) is not miss) == max_hits
    assert (sinks._footer_user_tail(path, "ana", 2) is not miss) == tail_hits

    exact = f"file://{path}"
    for user, n in [("ana", 2), ("ana", 50), ("ana", None), ("bob", 2)]:
        fast = _outcome(lambda: replay_tail(spark, path, user, n))
        assert fast == _outcome(lambda: replay_tail(spark, exact, user, n)), (
            user, n,
        )
        # a file the footer scan cannot read is never skipped: the exact
        # read decides, and it fails on a truncated file
        assert fast is not RuntimeError or case in ("truncated", "string_ts")
        assert fast is RuntimeError or case != "truncated"

    copy = str(tmp_path / "copy")
    shutil.copytree(path, copy)
    row = [("ana", "q", "a", None, 1, 1)]
    fast = _outcome(lambda: append_chat_history(spark, row, path))
    assert fast == _outcome(
        lambda: append_chat_history(spark, row, f"file://{copy}")
    )
    assert (fast is RuntimeError) == (case == "truncated")


def test_only_sinks_imports_its_private_names():
    """The chat store's read-path choice (footer fast path or exact Spark
    read) lives in ``sources/sinks.py``: no other module imports one of
    its underscore names or reads one off the module. Tests are exempt."""
    from tests.conftest import private_name_leaks

    assert private_name_leaks("sources.sinks") == []
