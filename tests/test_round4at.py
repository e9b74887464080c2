"""Unit tests for the round-4at batch (IVF nDCG)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_similarity

SF = "/root/testdata/sf0.001"


def test_ndcg_bounds_and_relation_to_recall(spark):
    ndcg = {r.qid: r for r in queries_similarity.sim_ivf_ndcg(spark, SF).collect()}
    recall = {r.qid: r for r in queries_similarity.sim_ivf_recall(spark, SF).collect()}
    assert set(ndcg) == set(recall)
    for qid, r in ndcg.items():
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9
        assert r.n_graded == recall[qid].n_overlap
        if recall[qid].recall == 1.0 and r.n_graded == queries_similarity._EVAL_K:
            # perfect recall in perfect order would be ndcg == 1; any
            # order permutation keeps it positive but <= 1
            assert r.ndcg > 0.5
        if recall[qid].n_overlap == 0:
            assert r.ndcg == 0.0


def test_idcg_constant_matches_formula(spark):
    import math

    expect = round(
        sum(
            round((queries_similarity._EVAL_K + 1 - p) / math.log2(p + 1), 9)
            for p in range(1, queries_similarity._EVAL_K + 1)
        ),
        9,
    )
    assert queries_similarity._IDCG == expect
