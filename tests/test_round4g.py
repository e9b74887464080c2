"""Unit tests for the round-4g batch (RANGE frames, column stats,
NULL semantics). Parity vs DuckDB is covered by tools/parity.py / the
driver gate; these pin semantics on hand-built inputs and structural
properties on the fixtures."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_ingest,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_range_frame_counts_trailing_hour(spark):
    rows = queries_relational.rel_range_frame(spark, SF).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    # brute-force re-check a few users: n_1h == #events in (ep-3599, ep]
    for user, evs in list(by_user.items())[:5]:
        eps = sorted(e.ep for e in evs)
        for e in evs:
            expect = sum(1 for p in eps if e.ep - 3599 <= p <= e.ep)
            assert e.n_1h == expect


def test_range_frame_peer_rows_share_value(spark):
    # peers (same user, same ep) must have identical frame aggregates —
    # the RANGE-frame property that makes the result order-independent
    df = spark.createDataFrame(
        [(1, 10, 100, "a", "1.0", "{}"), (2, 10, 100, "a", "2.0", "{}"),
         (3, 10, 4000, "a", "4.0", "{}")],
        "event_id long, user_id long, ep long, event_type string,"
        " value string, props string",
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-3599, Window.currentRow)
    )
    out = {
        r.event_id: r.n
        for r in df.select(
            "event_id", F.count(F.lit(1)).over(w).alias("n")
        ).collect()
    }
    assert out[1] == 2 and out[2] == 2  # peers see each other
    assert out[3] == 1  # 3900s later: outside the 3599s frame


def test_column_stats_shape_and_exactness(spark):
    rows = {r.col_name: r for r in queries_relational.rel_column_stats(spark, SF).collect()}
    assert set(rows) == {"l_quantity", "l_extendedprice", "l_discount"}
    n = {r.n for r in rows.values()}
    assert len(n) == 1  # all columns scanned from the same table
    qty = rows["l_quantity"]
    assert qty.vmin >= 1 and qty.vmax <= 50
    assert qty.n_distinct <= 50
    disc = rows["l_discount"]
    assert 0.0 <= disc.vmin and disc.vmax <= 0.11


def test_column_stats_single_pass_plan(spark):
    # the wide aggregate must be ONE scan of lineitem (plus Expand for
    # the multi-distinct), never one scan per column
    df = queries_relational.rel_column_stats(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_null_semantics_nullsafe_join_and_counts(spark):
    rows = {r.dim_flag: r for r in queries_relational.rel_null_semantics(spark, SF).collect()}
    assert set(rows) == {"A", "R", None, "X"}
    # NULL dim row MUST match the nullif'd 'N' group (null-safe =)
    assert rows[None].n_group > 0
    assert rows["X"].n_group == 0
    # count semantics: n_rows = nonnull + the N-group size
    any_r = rows["A"]
    assert any_r.n_rows == any_r.n_nonnull + rows[None].n_group
    assert any_r.n_distinct == 2  # 'A', 'R'
    # explicit NULLS FIRST: the NULL dim row is ordinal 1
    assert rows[None].ord_nulls_first == 1


def test_recursive_ancestors_chain(spark):
    rows = queries_relational.rel_recursive_ancestors(spark, SF).collect()
    # every node appears at depth 0 as its own ancestor
    self_rows = {r.nk for r in rows if r.depth == 0 and r.anc_nk == r.nk}
    assert len(self_rows) == 25
    # chain for node 11: 11 -> 5 -> 2 -> 0
    chain = sorted(
        ((r.depth, r.anc_nk) for r in rows if r.nk == 11)
    )
    assert chain == [(0, 11), (1, 5), (2, 2), (3, 0)]
    # root has only itself
    assert [(r.depth, r.anc_nk) for r in rows if r.nk == 0] == [(0, 0)]


def test_python_datasource_partitions_and_rows(spark):
    from ade_agente_documental_empresarial___miner_a_spark.sources.pydatasource import (
        ArithGridDataSource,
        ArithGridReader,
    )

    # partition planning: ceil-split covers [0, n) exactly, no overlap
    r = ArithGridReader({"n_rows": "10", "n_parts": "4"})
    spans = [(p.start, p.end) for p in r.partitions()]
    assert spans == [(0, 3), (3, 6), (6, 9), (9, 10)]
    covered = [i for s, e in spans for i in range(s, e)]
    assert covered == list(range(10))

    try:
        spark.dataSource.register(ArithGridDataSource)
    except Exception:
        pass
    df = (
        spark.read.format("arith_grid")
        .option("n_rows", 100)
        .option("n_parts", 4)
        .load()
    )
    rows = df.collect()
    assert len(rows) == 100
    assert df.rdd.getNumPartitions() == 4
    got = {r.i: r.residue for r in rows}
    assert got[10] == 100 % 97 == 3
    assert sorted(got) == list(range(100))


def test_python_datasource_catalog_entry(spark):
    rows = queries_ingest.s11_python_datasource(spark, SF).collect()
    assert sum(r.n for r in rows) == 10_000
    assert sum(r.i_sum for r in rows) == 10_000 * 9_999 // 2
    # quadratic residues mod 97: exactly (97+1)/2 = 49 classes occur
    assert len(rows) == 49


def test_dpp_join_prunes_partitions_dynamically(spark):
    df = queries_relational.rel_dpp_join(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the fact scan must carry a runtime pruning subquery, not a static
    # literal filter — the defining marker of dynamic partition pruning
    assert "dynamicpruning" in plan.lower()
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.event_date.day in (10, 11, 12)
