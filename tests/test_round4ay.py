"""Unit tests for the round-4ay batch (isotropy, seasonality)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_similarity,
)

SF = "/root/testdata/sf0.001"


def test_isotropy_matches_numpy(spark):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    sel = mat[ids < queries_similarity._ISO_CAP]
    n = len(sel)
    norms = np.linalg.norm(sel, axis=1)
    cos = (sel @ sel.T) / np.outer(norms, norms)
    iu = np.triu_indices(n, k=1)
    vals = cos[iu]
    r = queries_similarity.emb_isotropy(spark, SF).collect()[0]
    assert r.n_pairs == len(vals)
    assert abs(r.mean_cosine - vals.mean()) < 1e-6
    assert abs(r.std_cosine - vals.std()) < 1e-6


def test_seasonality_index_averages_to_one(spark):
    rows = queries_relational.rel_seasonality_index(spark, SF).collect()
    assert rows
    # weighted by n_days, the indices average to exactly 1
    total_days = sum(r.n_days for r in rows)
    weighted = sum(r.seasonality_index * r.n_days for r in rows)
    assert abs(weighted / total_days - 1.0) < 1e-6
    assert {r.iso_weekday for r in rows} <= set(range(1, 8))
