"""RamServingIndex must be BIT-identical to the distributed retrieval
plan it mirrors: same scores (every IEEE-754 rounding step reproduced),
same ranking, same ties, same NaN placement — so a ChatSession served
from RAM produces byte-identical turns to one served by Spark jobs.
Reference analogue: the RAM Chroma collection queried client-side per
turn (micro-infobot/app.py:130, 223)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ade_agente_documental_empresarial___miner_a_spark.operators.embedding import (
    embed_one,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.serving import (
    RamServingIndex,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.similarity import (
    topk_similar,
)


def _chunks_frame(spark, sf_dir):
    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_chunks(docs)


@pytest.fixture(scope="module")
def served(spark, sf_dir):
    chunks = _chunks_frame(spark, sf_dir).cache()
    chunks.count()
    idx = RamServingIndex.from_frame(chunks)
    yield chunks, idx
    chunks.unpersist()


def test_topk_bitexact_vs_spark_plan(spark, served):
    chunks, idx = served
    for q in (
        "spark vector join query",
        "nación de clientes y pedidos",
        "x",
        "documents with unusual tokens zzz qqq",
    ):
        qvec = embed_one(q)
        want = [
            (r.chunk_id, r.text, r.score)
            for r in topk_similar(chunks, qvec, k=7).collect()
        ]
        got = [(h.chunk_id, h.text, h.score) for h in idx.topk(qvec, k=7)]
        # exact equality, scores included: the kernel reproduces the
        # JVM fold rounding step for step
        assert got == want


def test_scores_bitexact_beyond_topk(spark, served):
    """Not just the winners: the FULL score vector matches the Spark
    expression bit for bit (sampled via a large k)."""
    chunks, idx = served
    qvec = embed_one("full vector parity probe")
    k = min(len(idx), 500)
    want = {
        r.chunk_id: r.score
        for r in topk_similar(chunks, qvec, k=k).collect()
    }
    got = {h.chunk_id: h.score for h in idx.topk(qvec, k=k)}
    assert got == want


def test_tie_break_is_id_ascending(spark):
    df = spark.createDataFrame(
        [(10, "b", [1.0, 0.0]), (3, "a", [2.0, 0.0]), (7, "c", [1.0, 0.0])],
        "chunk_id long, text string, embedding array<float>",
    )
    idx = RamServingIndex.from_frame(df)
    hits = idx.topk([1.0, 0.0], k=3)
    # all three have cosine 1.0 → ids ascending
    assert [h.chunk_id for h in hits] == [3, 7, 10]
    want = [r.chunk_id for r in topk_similar(df, [1.0, 0.0], k=3).collect()]
    assert [h.chunk_id for h in hits] == want


def test_zero_norm_scores_null_like_try_divide(spark):
    """cosine uses try_divide: a zero-norm operand scores NULL, and
    NULL ranks LAST under ``score DESC`` (Spark DESC default is NULLS
    LAST — same as the DuckDB oracle, whose DOUBLE x/0 is NULL). One
    bad vector in a 100 TB corpus must not abort the job (found by
    tools/parity_fuzz.py, edge profile). The kernel mirrors exactly:
    zero-norm index rows rank last with ``score is None``; a zero-norm
    QUERY yields all-NULL scores — the first k ids ascending."""
    df = spark.createDataFrame(
        [(1, "zero", [0.0, 0.0]), (2, "unit", [1.0, 0.0])],
        "chunk_id long, text string, embedding array<float>",
    )
    rows = topk_similar(df, [1.0, 0.0], k=2).collect()
    assert [r.chunk_id for r in rows] == [2, 1]
    assert rows[0].score == 1.0 and rows[1].score is None

    idx = RamServingIndex.from_frame(df)
    hits = idx.topk([1.0, 0.0], k=2)
    assert [(h.chunk_id, h.score) for h in hits] == [
        (r.chunk_id, r.score) for r in rows
    ]

    # zero-norm query: every score NULL on both tiers → ids ascending
    want0 = topk_similar(df, [0.0, 0.0], k=2).collect()
    hits0 = idx.topk([0.0, 0.0], k=2)
    assert [(h.chunk_id, h.score) for h in hits0] == [
        (r.chunk_id, r.score) for r in want0
    ]
    assert all(h.score is None for h in hits0)
    assert [h.chunk_id for h in hits0] == [1, 2]

    # null-reaching cut: k=1 on the zero-norm query picks the lowest id
    assert [h.chunk_id for h in idx.topk([0.0, 0.0], k=1)] == [1]


def test_nan_embeddings_rank_first_like_spark(spark):
    """NaN-VALUED embeddings (not zero norms) score NaN on both paths —
    a NaN divisor is not ANSI zero — and Spark's ordering treats NaN as
    GREATEST, so under descending order the NaN row ranks first."""
    df = spark.createDataFrame(
        [(1, "nan", [float("nan"), 1.0]), (2, "unit", [1.0, 0.0])],
        "chunk_id long, text string, embedding array<float>",
    )
    idx = RamServingIndex.from_frame(df)
    got = [h.chunk_id for h in idx.topk([1.0, 0.0], k=2)]
    want = [r.chunk_id for r in topk_similar(df, [1.0, 0.0], k=2).collect()]
    assert got == want == [1, 2]


def test_row_guard_fails_fast(spark):
    df = spark.range(10).selectExpr(
        "id AS chunk_id",
        "CAST(id AS STRING) AS text",
        "array(CAST(id AS FLOAT), 1.0F) AS embedding",
    )
    with pytest.raises(ValueError, match="max_rows"):
        RamServingIndex.from_frame(df, max_rows=9)
    assert len(RamServingIndex.from_frame(df, max_rows=10)) == 10


def test_empty_and_dim_mismatch(spark):
    df = spark.createDataFrame(
        [], "chunk_id long, text string, embedding array<float>"
    )
    idx = RamServingIndex.from_frame(df)
    assert idx.topk([1.0, 0.0], k=3) == []
    full = RamServingIndex.from_frame(
        spark.createDataFrame(
            [(1, "a", [1.0, 0.0])],
            "chunk_id long, text string, embedding array<float>",
        )
    )
    with pytest.raises(ValueError, match="dim"):
        full.topk([1.0, 0.0, 0.0])


def test_topk_batch_bitexact_vs_single(spark, served):
    """Each batch result must be BIT-identical to its single-query
    call — topk_batch delegates per query (the loop IS the fast path;
    see the method docstring), so exactness holds by construction and
    this pin keeps any future vectorization honest."""
    chunks, idx = served
    qs = [
        embed_one("batch probe uno"),
        embed_one("batch probe dos distinct"),
        embed_one("x"),
    ]
    batch = idx.topk_batch(qs, k=9)
    assert len(batch) == 3
    for q, got in zip(qs, batch):
        want = idx.topk(q, k=9)
        assert got == want  # ids, texts, AND exact scores

    assert idx.topk_batch([], k=3) == []
    with pytest.raises(ValueError, match="incompatible"):
        idx.topk_batch([[1.0, 2.0]], k=3)
    # a zero-norm query inside a batch follows the try_divide contract
    # (all-NULL scores), not an up-front batch rejection
    mixed = idx.topk_batch([qs[0], [0.0] * len(qs[0])], k=3)
    assert mixed[0] == idx.topk(qs[0], k=3)
    assert mixed[1] == idx.topk([0.0] * len(qs[0]), k=3)
    assert all(h.score is None for h in mixed[1])


def test_ragged_and_null_embeddings_rejected(spark):
    ragged = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "b", [1.0, 0.0, 3.0])],
        "chunk_id long, text string, embedding array<float>",
    )
    with pytest.raises(ValueError, match="ragged"):
        RamServingIndex.from_frame(ragged)
    withnull = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "b", None)],
        "chunk_id long, text string, embedding array<float>",
    )
    with pytest.raises(ValueError, match="null"):
        RamServingIndex.from_frame(withnull)
    # a NULL element, not only a NULL vector: a row-wise float64 copy
    # would load it as NaN without an error
    nullelem = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "b", [1.0, None])],
        "chunk_id long, text string, embedding array<float>",
    )
    with pytest.raises(ValueError, match="null"):
        RamServingIndex.from_frame(nullelem)


def test_chat_session_ram_tier_byte_identical(spark, sf_dir, tmp_path):
    """The full serving loop: same questions through a Spark-served and
    a RAM-served ChatSession yield byte-identical answers, contexts,
    prompts, and persisted history rows — and the RAM tier runs ZERO
    Spark jobs per turn after construction."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
        ChatSession,
    )

    chunks = _chunks_frame(spark, sf_dir).cache()
    chunks.count()
    idx = RamServingIndex.from_frame(chunks)
    qs = ["primera pregunta", "segunda sobre pedidos", "tercera corta"]

    a = ChatSession(spark, chunks, "u", history_path=str(tmp_path / "a"))
    b = ChatSession(spark, idx, "u", history_path=str(tmp_path / "b"))
    turns_a = [a.ask(q) for q in qs]

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("ram-serving-turns", "ram tier turn jobs")
    try:
        turns_b = [b.ask(q) for q in qs]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ram_jobs = len(tracker.getJobIdsForGroup("ram-serving-turns") or [])
    assert ram_jobs == 0, f"RAM tier ran {ram_jobs} Spark jobs per 3 turns"

    for ta, tb in zip(turns_a, turns_b):
        assert ta.answer == tb.answer
        assert ta.context == tb.context
        assert ta.messages == tb.messages
        assert (ta.prompt_tokens, ta.completion_tokens, ta.cost_usd) == (
            tb.prompt_tokens,
            tb.completion_tokens,
            tb.cost_usd,
        )

    from ade_agente_documental_empresarial___miner_a_spark.sources.sinks import (
        read_chat_history,
    )

    ra = [
        (r.user, r.message, r.response, r.prompt_tokens,
         r.completion_tokens, r.turn_id)
        for r in read_chat_history(spark, str(tmp_path / "a"))
        .orderBy("turn_id").collect()
    ]
    rb = [
        (r.user, r.message, r.response, r.prompt_tokens,
         r.completion_tokens, r.turn_id)
        for r in read_chat_history(spark, str(tmp_path / "b"))
        .orderBy("turn_id").collect()
    ]
    assert ra == rb and len(ra) == len(qs)
    chunks.unpersist()


def test_kernel_fold_matches_sequential_reference_property():
    """Hypothesis sweep of the rounding contract: for ADVERSARIAL
    float32 inputs (mixed magnitudes, signs, subnormal-adjacent), the
    vectorized kernel must equal the pure sequential left fold bit for
    bit — any hidden reassociation, pairwise summation, or FMA in the
    kernel shows up here as a one-ulp split. Spark-free, so hypothesis
    can afford many examples."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from ade_agente_documental_empresarial___miner_a_spark.functions.vector import (
        const_l2_norm,
    )

    # allow_subnormal=False: a dependency in this container sets FTZ
    # (flush-to-zero), so hypothesis refuses to generate subnormals;
    # the magnitude mix below still exercises reassociation splits.
    finite32 = st.floats(
        min_value=-999999995904.0,
        max_value=999999995904.0,
        allow_nan=False,
        allow_subnormal=False,
        width=32,
    )

    @settings(max_examples=120, deadline=None)
    @given(
        m=arrays(np.float32, (7, 9), elements=finite32),
        q=arrays(np.float32, (9,), elements=finite32),
    )
    def check(m, q):
        # the contract is TOTAL since the try_divide change: zero-norm
        # rows/queries (and denominator underflow) are modeled as None,
        # overflow follows IEEE inf arithmetic — no skipped inputs.
        qlist = [float(x) for x in q]
        qn = const_l2_norm(qlist)
        idx = RamServingIndex(
            np.arange(m.shape[0], dtype=np.int64),
            ["t"] * m.shape[0],
            m.astype(np.float64),
        )
        got = {h.chunk_id: h.score for h in idx.topk(qlist, k=m.shape[0])}
        for i in range(m.shape[0]):
            s = 0.0
            n = 0.0
            for j in range(m.shape[1]):
                v = float(m[i, j])
                s = s + v * qlist[j]
                n = n + v * v
            # math.sqrt, NOT n ** 0.5: libm pow(x, 0.5) is off by one
            # ulp from correctly-rounded sqrt on ~0.1% of inputs, and
            # the engine (JVM Math.sqrt / np.sqrt / math.sqrt) always
            # uses true sqrt — hypothesis found the split
            denom = math.sqrt(n) * qn
            if denom == 0.0:
                # try_divide: NULL exactly when the denominator is 0
                assert got[i] is None, f"row {i}: {got[i]!r} != None"
                continue
            want = s / denom
            assert got[i] == want or (
                np.isnan(got[i]) and np.isnan(want)
            ), f"row {i}: {got[i]!r} != {want!r}"

    check()


def test_kernel_fold_matches_sequential_reference():
    """The vectorized per-dimension accumulation must equal a pure
    sequential left fold per row (the documented rounding contract),
    including on values chosen to expose reordered summation."""
    rng = np.random.default_rng(7)
    m32 = (rng.standard_normal((50, 16)) * rng.choice(
        [1e-8, 1.0, 1e8], size=(50, 16)
    )).astype(np.float32)
    q = [float(x) for x in rng.standard_normal(16).astype(np.float32)]
    idx = RamServingIndex(
        np.arange(50, dtype=np.int64),
        ["t"] * 50,
        m32.astype(np.float64),
    )
    hits = {h.chunk_id: h.score for h in idx.topk(q, k=50)}

    from ade_agente_documental_empresarial___miner_a_spark.functions.vector import (
        const_l2_norm,
    )

    for i in range(50):
        s = 0.0
        n = 0.0
        for j in range(16):
            v = float(np.float64(m32[i, j]))
            s = s + v * q[j]
            n = n + v * v
        want = s / (math.sqrt(n) * const_l2_norm(q))
        assert hits[i] == want or (np.isnan(hits[i]) and np.isnan(want))


# ---------------------------------------------------------------------------
# search_hierarchy — the E2′ composite served from RAM (VERDICT r7 task 6)


def _hierarchy_plan(scored, phase1_k=3, per_label_k=2):
    """The e2_hierarchical_search DataFrame composite, parameterized:
    global top-phase1_k → distinct labels → semi-join → top-per_label_k
    per label (same plan shape as plans/queries_reference.py)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    phase1 = (
        scored.orderBy(F.desc("score"), "vec_id")
        .limit(phase1_k)
        .select("label")
        .distinct()
    )
    w2 = Window.partitionBy("label").orderBy(F.desc("score"), "vec_id")
    return (
        scored.join(F.broadcast(phase1), "label", "left_semi")
        .withColumn("rnk", F.row_number().over(w2).cast("long"))
        .where(F.col("rnk") <= per_label_k)
        .select("label", "vec_id", "score", "rnk")
    )


def _norm_score(s):
    # NaN != NaN breaks set equality; scores are otherwise bit-compared
    return "NaN" if isinstance(s, float) and math.isnan(s) else s


def _hits_as_set(hits):
    return {(h.label, h.chunk_id, _norm_score(h.score), h.rnk) for h in hits}


def _rows_as_set(rows):
    return {(r.label, r.vec_id, _norm_score(r.score), r.rnk) for r in rows}


def test_hierarchy_bitexact_vs_e2_plan(spark, sf_dir):
    """On the embeddings fixture, search_hierarchy must reproduce the
    oracle-paired e2_hierarchical_search entry row for row."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.queries_reference import (
        e2_hierarchical_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = RamServingIndex.from_frame(
        emb, vec_col="embedding", id_col="vec_id", text_col="label",
        label_col="label",
    )
    qvec = [
        float(x)
        for x in emb.where("vec_id = 6").collect()[0]["embedding"]
    ]
    got = idx.search_hierarchy(qvec, phase1_k=3, per_label_k=2)
    want = e2_hierarchical_search(spark, sf_dir).collect()
    assert _hits_as_set(got) == _rows_as_set(want)
    assert len(got) == len(want)


def test_hierarchy_edge_frames_match_plan(spark):
    """Adversarial shapes — exact score ties across labels, a zero-norm
    row (NULL score), a NaN embedding (ranks first), a label reached
    only via ties — against the parameterized DataFrame composite."""
    from pyspark.sql import functions as F

    from ade_agente_documental_empresarial___miner_a_spark.functions.vector import (
        cosine_similarity,
    )

    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "a", [1.0, 0.0]),       # exact tie with id 1
        (3, "b", [0.6, 0.8]),
        (4, "b", [0.0, 0.0]),       # zero-norm: NULL score
        (5, "c", [float("nan"), 1.0]),  # NaN: ranks first
        (6, "c", [0.0, 1.0]),
        (7, "d", [0.9, 0.1]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    qvec = [1.0, 0.0]
    scored = df.select(
        "vec_id",
        "label",
        cosine_similarity(
            F.col("embedding"), F.lit(qvec).cast("array<float>")
        ).alias("score"),
    )
    idx = RamServingIndex.from_frame(
        df, vec_col="embedding", id_col="vec_id", text_col="label",
        label_col="label",
    )
    for p1, pk in ((3, 2), (1, 1), (5, 3), (7, 2)):
        got = idx.search_hierarchy(qvec, phase1_k=p1, per_label_k=pk)
        want = _hierarchy_plan(scored, p1, pk).collect()
        assert _hits_as_set(got) == _rows_as_set(want), (p1, pk)


def test_hierarchy_requires_labels_and_handles_empty(spark):
    df = spark.createDataFrame(
        [(1, "t", [1.0, 0.0])],
        "chunk_id long, text string, embedding array<float>",
    )
    idx = RamServingIndex.from_frame(df)
    with pytest.raises(ValueError, match="label_col"):
        idx.search_hierarchy([1.0, 0.0])
    empty = RamServingIndex.from_frame(
        df.where("chunk_id < 0"), label_col="text"
    )
    assert empty.search_hierarchy([1.0, 0.0]) == []
    withlab = RamServingIndex.from_frame(df, label_col="text")
    assert withlab.search_hierarchy([1.0, 0.0], phase1_k=0) == []


def test_hierarchy_property_vs_plan(spark):
    """Hypothesis: random small frames (random labels, float32 vectors
    incl. exact duplicates via rounding) — RAM hierarchy == DataFrame
    composite on every draw."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from ade_agente_documental_empresarial___miner_a_spark.functions.vector import (
        cosine_similarity,
    )

    comp = st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0, 2.0])
    row = st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.tuples(comp, comp, comp),
    )

    @settings(max_examples=12, deadline=None)
    @given(rows=st.lists(row, min_size=1, max_size=12))
    def check(rows):
        data = [
            (i, lab, list(vec)) for i, (lab, vec) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data, "vec_id long, label string, embedding array<float>"
        )
        qvec = [1.0, 0.5, -0.5]
        scored = df.select(
            "vec_id",
            "label",
            cosine_similarity(
                F.col("embedding"), F.lit(qvec).cast("array<float>")
            ).alias("score"),
        )
        idx = RamServingIndex.from_frame(
            df, vec_col="embedding", id_col="vec_id", text_col="label",
            label_col="label",
        )
        got = idx.search_hierarchy(qvec, phase1_k=3, per_label_k=2)
        want = _hierarchy_plan(scored, 3, 2).collect()
        assert _hits_as_set(got) == _rows_as_set(want)

    check()


def test_hierarchy_null_labels_match_semi_join_semantics(spark):
    # a NULL-label row lands in the phase-1 top-k: the DataFrame
    # composite's left-semi join never matches NULL = NULL, so that
    # selection contributes nothing and NULL-label rows never appear in
    # the output — the RAM tier must reproduce that, not Python's
    # None == None (code-review r8 finding)
    from pyspark.sql import functions as F

    from ade_agente_documental_empresarial___miner_a_spark.functions.vector import (
        cosine_similarity,
    )

    rows = [
        (1, None, [1.0, 0.0]),    # best score, NULL label
        (2, None, [0.9, 0.1]),
        (3, "b", [0.6, 0.8]),
        (4, "b", [0.5, 0.5]),
        (5, "c", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    qvec = [1.0, 0.0]
    scored = df.select(
        "vec_id",
        "label",
        cosine_similarity(
            F.col("embedding"), F.lit(qvec).cast("array<float>")
        ).alias("score"),
    )
    idx = RamServingIndex.from_frame(
        df, vec_col="embedding", id_col="vec_id", text_col="label",
        label_col="label",
    )
    got = idx.search_hierarchy(qvec, phase1_k=3, per_label_k=2)
    want = _hierarchy_plan(scored, 3, 2).collect()
    assert _hits_as_set(got) == _rows_as_set(want)
    assert all(h.label is not None for h in got)


def test_order_puts_nan_above_genuine_inf():
    """Spark's total order ranks NaN ABOVE +Infinity; the +inf mask in
    the RAM comparator used to conflate a NaN score with a genuine
    +inf one (code-review r8). +inf is actually unreachable through
    _score_query (Cauchy-Schwarz: |v||q| >= |v.q|, so the denominator
    overflows first and the score goes NaN, never +inf), so this pins
    the comparator DIRECTLY: the NaN row must win even when a +inf row
    carries a smaller id."""
    import numpy as np

    from ade_agente_documental_empresarial___miner_a_spark.operators.serving import (  # noqa: E501
        RamServingIndex,
    )

    idx = RamServingIndex.__new__(RamServingIndex)
    idx._ids = np.array([1, 2, 3], dtype=np.int64)
    scores = np.array([np.inf, np.nan, 1.0])
    null_mask = np.array([False, False, False])
    # full-sort path (k >= n_rows): row indices — NaN row first, then
    # the +inf row, then the finite one
    assert list(idx._order(scores, null_mask, 3)) == [1, 0, 2]
    # partition path (k < n_rows)
    assert list(idx._order(scores, null_mask, 2)) == [1, 0]
