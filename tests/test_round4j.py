"""Unit tests for the round-4j batch (lakehouse semantics)."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_ingest,
    queries_relational,
    queries_similarity,
)

SF = "/root/testdata/sf0.001"


def test_schema_evolution_backfills_nulls(spark):
    rows = queries_ingest.s13_schema_evolution(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n == r.n_with_priority + r.n_legacy
        assert r.n_legacy > 0  # v1 generation rows survive the merge
        assert r.n_with_priority > 0


def test_union_by_name_allow_missing(spark):
    # in-flight twin of mergeSchema: narrow ∪ wide with back-fill
    a = spark.createDataFrame([(1, "x")], "id long, s string")
    b = spark.createDataFrame([(2, "y", 9.5)], "id long, s string, v double")
    u = a.unionByName(b, allowMissingColumns=True)
    got = {r.id: (r.s, r.v) for r in u.collect()}
    assert got == {1: ("x", None), 2: ("y", 9.5)}


def test_full_outer_fixture_structure(spark):
    rows = queries_relational.rel_full_outer_family(spark, SF).collect()
    assert len(rows) == len({r.nationkey for r in rows})  # key coalesced
    unmatched = [
        r for r in rows if (r.n_cust == 0) != (r.n_supp == 0)
    ]
    # some unmatched rows exist at every SF (at sf0.001 the tiny
    # supplier table clears the threshold nowhere, so only one
    # direction shows; both directions are pinned on literal frames
    # in test_full_outer_small_literal)
    assert unmatched
    for r in rows:
        assert r.in_both == (r.n_cust > 0 and r.n_supp > 0)


def test_full_outer_small_literal(spark):
    a = spark.createDataFrame([(1, 10), (2, 20)], "k int, va int")
    b = spark.createDataFrame([(2, 200), (3, 300)], "k int, vb int")
    j = (
        a.join(b, "k", "full_outer")
        .select("k", "va", "vb")
        .collect()
    )
    got = {r.k: (r.va, r.vb) for r in j}
    assert got == {1: (10, None), 2: (20, 200), 3: (None, 300)}


def test_expectations_flags_and_quarantine(spark):
    from ade_agente_documental_empresarial___miner_a_spark.operators.curation import (
        expectations,
    )

    df = spark.createDataFrame(
        [
            (1, "good text", 9, "en"),
            (None, "no key", 6, "en"),
            (3, "", 0, "en"),
            (4, "bad count", 99, "en"),
            (5, "chinese doc", 11, "zh"),
        ],
        "doc_id long, text string, n_chars long, lang string",
    )
    rows = {r.doc_id: r for r in expectations(df).collect()}
    assert rows[1].passed and rows[1].failed_rules == []
    assert rows[None].failed_rules == ["doc_id_present"]
    assert rows[3].failed_rules == ["text_nonempty"]
    assert rows[4].failed_rules == ["n_chars_consistent"]
    assert rows[5].failed_rules == ["lang_supported"]


def test_expectations_summary_fixture(spark):
    rows = {r.rule: r.n for r in queries_curation.cur_expectations(spark, SF).collect()}
    assert rows["doc_id_present"] == 0
    assert rows["n_chars_consistent"] == 0
    assert rows["lang_supported"] > 0  # the zh quarantine slice
    assert rows["passed_all"] + rows["lang_supported"] == 500


def test_matryoshka_overlap_range_and_selfhit(spark):
    rows = queries_similarity.emb_matryoshka_eval(spark, SF).collect()
    assert len(rows) == 8  # vec_id % 64 == 7 probe set at 500 vectors
    for r in rows:
        assert 0 <= r.n_overlap <= 5
        # the query vector itself ranks first under BOTH metrics
        # (cosine(self,self)=1 in full and truncated space), so the
        # overlap can never be empty
        assert r.n_overlap >= 1
    mean = sum(r.overlap_at_5 for r in rows) / len(rows)
    assert mean > 0.2  # truncation keeps some neighborhood structure


def test_bpe_pair_stats_rank_and_counts(spark):
    rows = queries_curation.cur_bpe_pair_stats(spark, SF).collect()
    assert len(rows) == 20
    assert [r.merge_rank for r in rows] == list(range(1, 21))
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        assert len(r.pair) == 2  # single-char symbols at iteration 0


def test_join_strategy_hints_control_physical_plan(spark):
    """Hint surface: the same logical join compiles to the hinted
    physical strategy — the manual override lane when AQE's choice is
    wrong for a known workload (the broadcast pin in _verify_jaccard
    is this lane used in anger)."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )

    cust = table(spark, "/root/testdata/sf0.001", "customer")
    nat = table(spark, "/root/testdata/sf0.001", "nation")

    def plan_of(hinted):
        df = hinted.join(cust, hinted["n_nationkey"] == cust["c_nationkey"])
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan_of(nat.hint("broadcast"))
    assert "SortMergeJoin" in plan_of(nat.hint("merge"))
    assert "ShuffledHashJoin" in plan_of(nat.hint("shuffle_hash"))


def test_collation_ci_merges_cases(spark):
    rows = queries_relational.rel_collation_ci(spark, SF).collect()
    keys = [r.ptype for r in rows]
    assert keys == [k.lower() for k in keys]  # normalized keys
    assert len(keys) == len(set(keys))
    # the collated grouping merged the case-split populations: every
    # group that has both parities of partkey counts both casings
    assert sum(r.n for r in rows) == 200  # sf0.001 part rows


def test_try_arithmetic_null_vs_value(spark):
    rows = queries_relational.rel_try_arithmetic(spark, SF).collect()
    for r in rows:
        assert r.per_jumbo is None      # /0 -> NULL, never an error
        assert r.per_normal is not None
        assert r.bad_parse is None
        assert r.good_parse == 42
