"""Dedup + text-analysis operator tests on literal DataFrames."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash16,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.textstats import (
    fingerprints,
    language_id,
    token_counts,
)


def docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )


def test_exact_dedup_groups_case_insensitive(spark):
    df = docs(
        spark,
        [
            (1, "Hello World", "en"),
            (2, "hello world", "en"),
            (3, "different", "en"),
        ],
    )
    rows = {r.doc_id: r for r in exact_dedup(df).collect()}
    assert rows[1].canonical_id == 1 and rows[2].canonical_id == 1
    assert rows[1].is_canonical and not rows[2].is_canonical
    assert rows[2].group_size == 2
    assert rows[3].is_canonical and rows[3].group_size == 1


def test_lsh_finds_identical_docs(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    df = docs(spark, [(1, text, "en"), (2, text, "en"), (3, "x y z w v u t s", "en")])
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_docs_equal_hash(spark):
    df = docs(spark, [(1, "a b c d", "en"), (2, "a b c d", "en"), (3, "q r s t", "en")])
    rows = {r.doc_id: r.simhash for r in simhash16(df).collect()}
    assert rows[1] == rows[2]
    assert 0 <= rows[1] < 2**16


def test_jaccard_exact_values(spark):
    # shingles(2) of "a b c d" = {ab, bc, cd}; of "a b c e" = {ab, bc, ce}
    # common=2, union=4 -> jaccard 0.5
    df = docs(spark, [(1, "a b c d", "en"), (2, "a b c e", "en")])
    rows = jaccard_pairs(df, threshold=0.0).collect()
    assert len(rows) == 1
    assert abs(rows[0].jaccard - 0.5) < 1e-12
    assert rows[0].n_common == 2


def test_jaccard_respects_lang_block(spark):
    df = docs(spark, [(1, "a b c d", "en"), (2, "a b c d", "de")])
    assert jaccard_pairs(df, threshold=0.0).count() == 0


def test_token_counts(spark):
    df = docs(spark, [(1, "hello world 7 !", "en")])
    r = token_counts(df).collect()[0]
    assert r.ws_tokens == 4
    # bpe-ish: hello, world, 7, ! -> 4
    assert r.bpe_tokens == 4
    assert r.n_chars == len("hello world 7 !")


def test_language_id_markers(spark):
    df = docs(
        spark,
        [
            (1, "the cat and the hat of a house", "en"),
            (2, "der hund und die katze und das haus", "de"),
            (3, "zzz qqq www", "xx"),
        ],
    )
    rows = {r.doc_id: r.pred_lang for r in language_id(df).collect()}
    assert rows[1] == "en"
    assert rows[2] == "de"
    assert rows[3] == "unk"


def test_fingerprint_bag_is_order_invariant(spark):
    df = docs(spark, [(1, "b a c", "en"), (2, "c b a", "en")])
    rows = {r.doc_id: r for r in fingerprints(df).collect()}
    assert rows[1].fp_bag == rows[2].fp_bag
    assert rows[1].fp_exact != rows[2].fp_exact


def test_prefix_filter_jaccard_matches_naive_allpairs(spark):
    """jaccard_pairs is prefix-filtered but EXACT: its output must equal
    the naive exploded all-pairs join on the same corpus."""
    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        word_shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox leaps over the lazy dog", "en"),
        (3, "a completely different sentence about spark engines", "en"),
        (4, "the quick brown fox jumps over the lazy dog", "en"),
        (5, "spark engines process completely different sentences", "en"),
        (6, "el rapido zorro marron salta sobre el perro", "es"),
        (7, "el rapido zorro marron salta sobre el gato", "es"),
    ]
    df = docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
        for r in jaccard_pairs(df, threshold=0.3).collect()
    }

    # naive reference: exploded self-join on every shingle
    sh = df.select(
        "doc_id", "lang", F.explode(word_shingles(F.col("text"), 2)).alias("s")
    )
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    by_doc = {}
    for r in sh.collect():
        by_doc.setdefault(r.doc_id, (r.lang, set()))[1].add(r.s)
    want = {}
    ids = sorted(by_doc)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if by_doc[a][0] != by_doc[b][0]:
                continue
            inter = len(by_doc[a][1] & by_doc[b][1])
            if inter == 0:
                continue
            j = inter / (sizes[a] + sizes[b] - inter)
            if j >= 0.3:
                want[(a, b)] = (inter, round(j, 9))
    assert got == want
    assert (1, 4) in got and got[(1, 4)][1] == 1.0  # exact dup pair survives
    assert (1, 2) in got  # one-word-different pair survives


def test_embedding_dup_sample_cap_pushdown(spark):
    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        embedding_dup_pairs,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = embedding_dup_pairs(emb, threshold=-1.0, sample_cap=10)
    rows = out.collect()
    assert len(rows) == 45  # C(10,2) — the cap bounds the quadratic term
    assert max(max(r.id_a, r.id_b) for r in rows) == 9
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan


def test_prefix_jaccard_property_random_corpora(spark):
    """Property: prefix-filtered jaccard_pairs == naive all-pairs Jaccard
    for arbitrary small corpora (hypothesis-driven)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    corpus_st = st.lists(
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=10),
        min_size=2,
        max_size=6,
    )

    def naive(corpus, t=0.3):
        sh = {
            i: {" ".join(ws[j:j + 2]) for j in range(len(ws) - 1)}
            for i, ws in enumerate(corpus)
            if len(ws) >= 2
        }
        out = {}
        ids = sorted(k for k in sh if sh[k])
        for x, a in enumerate(ids):
            for b in ids[x + 1:]:
                inter = len(sh[a] & sh[b])
                if inter == 0:
                    continue
                j = inter / (len(sh[a]) + len(sh[b]) - inter)
                if j >= t:
                    out[(a, b)] = (inter, round(j, 9))
        return out

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus_st)
    def check(corpus):
        df = spark.createDataFrame(
            [(i, " ".join(ws), "en") for i, ws in enumerate(corpus)],
            "doc_id long, text string, lang string",
        )
        got = {
            (r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
            for r in jaccard_pairs(df, threshold=0.3).collect()
        }
        assert got == naive(corpus)

    check()


def test_lsh_verified_materialized_mode_matches_pipelined(spark, monkeypatch):
    """lsh_verified_pairs' size gate must fail closed: below it the
    per-doc shingle arrays are checkpointed once and read by the
    signatures, the band join and the verify join; forcing the pipelined
    plan (gate at 0 bytes) must give exactly the same verified pairs —
    on ordinary docs, on degenerate ones (one word, empty, NULL text,
    exact duplicates) and on an empty frame."""
    from ade_agente_documental_empresarial___miner_a_spark.operators import dedup

    base = [
        (1, "alpha beta gamma delta epsilon zeta", "en"),
        (2, "alpha beta gamma delta epsilon zeta", "en"),
        (3, "alpha beta gamma delta epsilon eta", "en"),
        (4, "totally different words entirely here now", "en"),
        (5, "alpha beta gamma delta epsilon zeta theta", "en"),
    ]
    degenerate = [
        (6, "alpha", "en"),
        (7, "", "en"),
        (8, None, "en"),
        (9, "same words twice over here", "en"),
        (10, "same words twice over here", "en"),
    ]

    def verified(df, gate):
        with monkeypatch.context() as m:
            m.setattr(dedup, "_SMALL_INPUT_BYTES", gate)
            return {tuple(r) for r in dedup.lsh_verified_pairs(df).collect()}

    def both_paths(rows):
        # a literal DataFrame is an RDD scan whose size Catalyst does not
        # know, so each path is forced: every input is large at gate 0,
        # and small at an infinite gate
        df = docs(spark, rows)
        pipelined = verified(df, 0)
        materialized = verified(df, float("inf"))
        assert pipelined == materialized
        # the candidate pairs and their band counts agree as well
        arrs = df.select("doc_id", dedup.word_shingles(F.col("text")).alias("sh_arr"))
        assert {tuple(r) for r in dedup.lsh_candidate_pairs(df).collect()} == {
            tuple(r) for r in dedup.lsh_candidate_pairs(df, shingle_arrays=arrs).collect()
        }
        return materialized

    assert both_paths(base)
    got = both_paths(base + degenerate)
    assert (9, 10, 4, 1.0) in got
    assert not {6, 7, 8} & {d for pair in got for d in pair[:2]}
    assert both_paths([]) == set()


def test_verify_jaccard_threshold_zero_drops_disjoint_pairs(spark):
    """At threshold 0.0 every candidate passes ``jaccard >= t``, so the
    verify step itself must drop a candidate pair that shares no shingle.
    The pair list is built by hand: LSH would rarely propose such a pair."""
    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        _verify_jaccard,
        word_shingles,
    )

    df = docs(
        spark,
        [
            (1, "alpha beta gamma delta", "en"),
            (2, "alpha beta gamma omega", "en"),
            (3, "one two three four", "en"),
        ],
    )
    arrs = df.select("doc_id", word_shingles(F.col("text")).alias("sh_arr"))
    cands = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "doc_a long, doc_b long")
    got = {(r.doc_a, r.doc_b): r.n_common
           for r in _verify_jaccard(cands, arrs, "doc_id", 0.0).collect()}
    assert got == {(1, 2): 2}
