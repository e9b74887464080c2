"""Unit tests for the round-4y batch (hard negatives, quantile
normalization)."""

import numpy as np
import pyarrow.parquet as pq

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_similarity,
)

SF = "/root/testdata/sf0.001"


def test_hard_negatives_are_cross_label_argmax(spark):
    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    labels = np.array(t.column("label").to_pylist())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)

    out = {r.anchor_id: r for r in queries_similarity.emb_hard_negatives(spark, SF).collect()}
    cand_mask = ids < queries_similarity._CAND_CAP
    for aid in list(out)[:8]:
        r = out[aid]
        ai = np.where(ids == aid)[0][0]
        assert labels[ai] == r.anchor_label
        ni = np.where(ids == r.neg_id)[0][0]
        assert labels[ni] != labels[ai]  # a true negative
        cos = mat @ mat[ai] / (norms * norms[ai])
        mask = cand_mask & (labels != labels[ai])
        best = cos[mask].max()
        assert abs(r.hardness - best) < 1e-8  # the HARDEST one


def test_quantile_normalize_range_and_order(spark):
    rows = queries_relational.rel_quantile_normalize(spark, SF).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, docs in by_source.items():
        qs = sorted(d.len_quantile for d in docs)
        assert qs[0] == 0.0 and qs[-1] == 1.0
        assert all(0.0 <= x <= 1.0 for x in qs)
        # quantiles are distinct under the total order
        assert len(set(qs)) == len(qs)
