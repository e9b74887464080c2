"""Unit tests for the round-4ak batch (training triplets, lead time)."""

import numpy as np
import pyarrow.parquet as pq

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_similarity,
)

SF = "/root/testdata/sf0.001"


def test_triplets_pick_correct_pos_and_neg(spark):
    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    labels = np.array(t.column("label").to_pylist())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    out = {r.anchor_id: r for r in queries_similarity.emb_training_triplets(spark, SF).collect()}
    cand = ids < queries_similarity._TRIPLET_CANDS
    for aid in list(out)[:6]:
        ai = np.where(ids == aid)[0][0]
        cos = mat @ mat[ai] / (norms * norms[ai])
        r = out[aid]
        pos_mask = cand & (labels == labels[ai]) & (ids != aid)
        neg_mask = cand & (labels != labels[ai])
        assert r.positive_id == ids[pos_mask][np.argmax(cos[pos_mask])]
        assert r.negative_id == ids[neg_mask][np.argmax(cos[neg_mask])]
        assert abs(r.margin - (r.pos_cos - r.neg_cos)) < 1e-8
        # positive shares the anchor's label, negative does not
        assert labels[np.where(ids == r.positive_id)[0][0]] == labels[ai]
        assert labels[np.where(ids == r.negative_id)[0][0]] != labels[ai]


def test_lead_time_nonnegative_and_ordered(spark):
    rows = queries_relational.rel_order_lead_time(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.p50_days <= r.p90_days <= r.max_days
