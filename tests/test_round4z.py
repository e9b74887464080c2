"""Unit tests for the round-4z batch (MIPS vs cosine divergence)."""

import numpy as np
import pyarrow.parquet as pq

from ade_agente_documental_empresarial___miner_a_spark.plans import queries_similarity

SF = "/root/testdata/sf0.001"


def test_mips_and_cosine_tops_match_numpy(spark):
    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    out = {r.anchor_id: r for r in queries_similarity.emb_mips_vs_cosine(spark, SF).collect()}
    cand = (ids < queries_similarity._MIPS_CANDS)
    for aid in list(out)[:6]:
        ai = np.where(ids == aid)[0][0]
        dots = mat @ mat[ai]
        coss = dots / (norms * norms[ai])
        mask = cand & (ids != aid)
        best_dot = ids[mask][np.argmax(dots[mask])]
        best_cos = ids[mask][np.argmax(coss[mask])]
        r = out[aid]
        assert r.top_mips == best_dot
        assert r.top_cosine == best_cos
        assert r.metrics_agree == (best_dot == best_cos)
