"""Unit tests for the round-4as batch (cohort LTV, ABC)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_relational

SF = "/root/testdata/sf0.001"


def test_cohort_ltv_cum_is_running_sum(spark):
    rows = queries_relational.rel_cohort_ltv(spark, SF).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(str(r.cohort), []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.age_weeks)
        run = 0.0
        for r in rs:
            run += r.period_value
            assert abs(r.cum_value - run) < 1e-6
            assert r.n_active >= 1


def test_abc_classes_cover_revenue_bands(spark):
    got = {r.abc: r for r in queries_relational.rel_abc_classification(spark, SF).collect()}
    total = sum(r.class_revenue for r in got.values())
    assert set(got) <= {"A", "B", "C"}
    # class A completes the 80% band, so its share is >= 0.80 (boundary
    # part included) and B+C fill the rest
    share_a = got["A"].class_revenue / total
    assert share_a >= 0.80
    if "B" in got:
        assert (got["A"].class_revenue + got["B"].class_revenue) / total >= 0.95
    # NOTE: no "A has few parts" assertion — the fixture's part revenue
    # is near-uniform, so the 80% band needs ~80% of parts; the CLASS
    # semantics (band shares above) hold regardless of skew
