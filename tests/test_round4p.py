"""Unit tests for the round-4p batch (bucketed zero-shuffle join, outer
stream-stream interval join)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_relational

SF = "/root/testdata/sf0.001"


def test_bucketed_join_plans_without_exchange(spark):
    prev = {k: spark.conf.get(k) for k in queries_relational._NO_BROADCAST}
    for k, v in queries_relational._NO_BROADCAST.items():
        spark.conf.set(k, v)
    try:
        plan_df = queries_relational._bucketed_join_plan(spark, SF)
        plan_df.collect()
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # scope to the AQE final plan (the string repeats the pre-AQE
    # "Initial Plan" afterwards); below the join there must be NO
    # Exchange — the bucketed scans carry the co-location.
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "SortMergeJoin" in final
    join_part = final.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part, join_part[:800]
    assert "Bucketed: true" in join_part


def test_bucketed_entry_restores_confs(spark):
    before = {k: spark.conf.get(k) for k in queries_relational._NO_BROADCAST}
    queries_relational.rel_bucketed_join(spark, SF).collect()
    after = {k: spark.conf.get(k) for k in queries_relational._NO_BROADCAST}
    assert before == after
