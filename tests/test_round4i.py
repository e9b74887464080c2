"""Unit tests for the round-4i batch (statistical aggregates)."""

import math

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_ingest,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_regression_moments_bounds_and_builtin_agreement(spark):
    rows = queries_relational.rel_regression_moments(spark, SF).collect()
    assert rows
    from pyspark.sql import functions as F

    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        events_table,
    )

    ev = events_table(spark, SF).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    builtin = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.corr("c", "k").alias("corr"),
            F.regr_slope("k", "c").alias("slope"),
            F.regr_intercept("k", "c").alias("icpt"),
        )
        .collect()
    }
    for r in rows:
        assert -1.0 <= r.corr_vk <= 1.0
        assert 0.0 <= r.r2 <= 1.0
        assert math.isclose(r.r2, r.corr_vk**2, abs_tol=1e-6)
        # the exact-moments form must agree with Spark's builtin corr/
        # regr_* to float tolerance (builtins are merge-order-dependent
        # in the last ulps — which is exactly why the catalog entry
        # derives from exact moments instead)
        b = builtin[r.event_type]
        assert math.isclose(r.corr_vk, b.corr, abs_tol=1e-6)
        assert math.isclose(r.slope, b.slope, abs_tol=1e-6)
        assert math.isclose(r.intercept, b.icpt, abs_tol=1e-4)


def test_approx_percentile_contract_holds(spark):
    rows = queries_relational.rel_approx_percentile_contract(spark, SF).collect()
    assert {r.l_returnflag for r in rows} == {"A", "N", "R"}
    for r in rows:
        assert r.approx_ok
        assert r.exact_p50 > 0


def test_window_family2_distribution_bounds(spark):
    rows = queries_relational.rel_window_family2(spark, SF).collect()
    assert rows
    by_supp = {}
    for r in rows:
        by_supp.setdefault(r.l_suppkey, []).append(r)
    for supp, grp in list(by_supp.items())[:5]:
        prs = sorted(r.qty_pctrank for r in grp)
        cds = sorted(r.qty_cumedist for r in grp)
        assert prs[0] == 0.0 and prs[-1] == 1.0
        assert cds[-1] == 1.0 and all(0 < c <= 1 for c in cds)
        # third_qty is NULL for the first two rows of the time order
        nulls = [r for r in grp if r.third_qty is None]
        assert len(nulls) == min(2, len(grp))


def test_xml_extract_matches_direct_columns(spark):
    from pyspark.sql import functions as F

    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )

    out = {r.status: r for r in queries_ingest.s12_xml_extract(spark, SF).collect()}
    ref = {
        r.o_orderstatus: r
        for r in table(spark, SF, "orders")
        .where(F.col("o_orderkey") % 10 < 3)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(out) == set(ref)
    for s in out:
        assert out[s].n == ref[s].n  # from_xml lost no rows
