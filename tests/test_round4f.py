"""Unit tests for the round-4f batch — the last un-exercised API
surfaces (Python UDTF + LATERAL, correlated LATERAL LIMIT, VariantType,
GROUPED_AGG pandas UDAF) and SemDeDup semantic dedup. Parity vs DuckDB
is covered by tools/parity.py / the driver gate; these pin semantics on
hand-built inputs and structural properties on the fixtures."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_dedup,
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_udtf_termvec_counts_match_explode(spark):
    """The Python UDTF's per-doc word counts must agree with the
    JVM-side explode/groupBy production path on the same corpus."""
    out = queries_text.func_udtf_termvec(spark, SF)
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )

    ref = (
        table(spark, SF, "documents")
        .select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
    )
    assert out.exceptAll(ref).isEmpty()
    assert ref.exceptAll(out).isEmpty()


def test_udtf_termvec_handles_empty_and_null(spark):
    spark.udtf.register("term_vec_t", queries_text._make_termvec_udtf())
    spark.createDataFrame(
        [(1, "a b a"), (2, ""), (3, None), (4, "  x ")],
        "doc_id long, text string",
    ).createOrReplaceTempView("_tv_docs")
    rows = spark.sql(
        "SELECT d.doc_id, t.word, t.n FROM _tv_docs d,"
        " LATERAL term_vec_t(d.text) t"
    ).collect()
    got = {(r.doc_id, r.word): r.n for r in rows}
    assert got == {(1, "a"): 2, (1, "b"): 1, (4, "x"): 1}


def test_lateral_topk_is_per_group_topk(spark):
    rows = queries_relational.rel_lateral_topk(spark, SF).collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.nation, []).append(r.c_acctbal)
    assert len(by_nation) == 25
    for bals in by_nation.values():
        assert len(bals) <= 3
        assert bals == sorted(bals, reverse=True)


def test_lateral_topk_matches_window_form(spark):
    from pyspark.sql.window import Window

    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )

    cust = table(spark, SF, "customer")
    nat = table(spark, SF, "nation")
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.desc("c_acctbal"), "c_custkey")
    )
    ref = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            F.col("n_name").alias("nation"), "c_custkey", "c_acctbal"
        )
    )
    out = queries_relational.rel_lateral_topk(spark, SF)
    assert out.exceptAll(ref).isEmpty()
    assert ref.exceptAll(out).isEmpty()


def test_variant_props_decile_bounds(spark):
    rows = queries_relational.rel_variant_props(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.k_decile <= 9
        # every member k of decile d sums within [10d·n, (10d+9)·n]
        assert 10 * r.k_decile * r.n <= r.k_sum
        assert r.k_sum <= (10 * r.k_decile + 9) * r.n
    # all five event types present
    assert len({r.event_type for r in rows}) == 5


def test_gini_udaf_known_values(spark):
    # perfectly equal balances -> gini 0; one-holder extreme -> near 1
    df = spark.createDataFrame(
        [("EQ", 100.0, i) for i in range(4)]
        + [("SKEW", 0.0, 1), ("SKEW", 0.0, 2), ("SKEW", 900.0, 3)],
        "nation string, bal double, key long",
    ).select(
        "nation",
        F.round(F.col("bal") * 100).cast("long").alias("cents"),
        F.col("key").alias("c_custkey"),
    )
    gini = queries_relational._make_gini_udaf()
    got = {
        r.nation: r.g
        for r in df.groupBy("nation")
        .agg(gini(F.col("cents"), F.col("c_custkey")).alias("g"))
        .collect()
    }
    assert got["EQ"] == 0.0
    # x = [0, 0, 900]: G = (2*2700 - 4*900) / (3*900) = 2/3
    assert abs(got["SKEW"] - 2.0 / 3.0) < 1e-12


def test_gini_fixture_range(spark):
    rows = queries_relational.agg_gini_nation(spark, SF).collect()
    assert len(rows) == 25
    for r in rows:
        # acctbal can be negative, so gini can exceed 1, but it must
        # be finite and positive concentration on this fixture
        assert r.gini is not None and r.gini > 0


def test_semdedup_lower_id_kept(spark):
    rows = queries_dedup.dedup_semantic(spark, SF).collect()
    assert len(rows) == 500
    dups = [r for r in rows if r.is_dup]
    assert dups  # fixture contains semantic near-dups
    # a cell's lowest vec_id can never be marked duplicate
    min_per_cell = {}
    for r in rows:
        if r.cell not in min_per_cell or r.vec_id < min_per_cell[r.cell]:
            min_per_cell[r.cell] = r.vec_id
    for r in rows:
        if r.vec_id == min_per_cell[r.cell]:
            assert not r.is_dup


def test_gini_udaf_equals_mean_absolute_difference(spark):
    """Property: the sorted index-weighted formula the UDAF computes is
    algebraically the half relative mean absolute difference
    G = Σᵢⱼ|xᵢ-xⱼ| / (2n·Σx). Cross-check on random integer data."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    gini = queries_relational._make_gini_udaf()

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=2,
            max_size=40,
        ).filter(lambda xs: sum(xs) > 0)
    )
    def check(xs):
        df = spark.createDataFrame(
            [("g", int(v), i) for i, v in enumerate(xs)],
            "grp string, cents long, key long",
        )
        got = (
            df.groupBy("grp")
            .agg(gini(df.cents, df.key).alias("g"))
            .collect()[0]
            .g
        )
        n, sx = len(xs), sum(xs)
        mad = sum(abs(a - b) for a in xs for b in xs)
        expect = mad / (2.0 * n * sx)
        assert abs(got - expect) < 1e-9

    check()
