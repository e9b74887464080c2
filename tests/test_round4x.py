"""Unit tests for the round-4x batch (Zipf slope, grouped k-fold)."""

import math

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_zipf_slope_matches_numpy_ols(spark):
    import duckdb
    import numpy as np

    r = queries_text.text_zipf_slope(spark, SF).collect()[0]
    freq = duckdb.sql(
        f"""WITH terms AS (
              SELECT unnest(string_split(text, ' ')) AS w
              FROM read_parquet('{SF}/documents.parquet')),
            f AS (SELECT w, count(*) AS cnt FROM terms
                  WHERE w <> '' GROUP BY w)
            SELECT cnt FROM f ORDER BY cnt DESC, w LIMIT {queries_text._ZIPF_TOP}"""
    ).fetchall()
    y = np.log([c for (c,) in freq])
    x = np.log(np.arange(1, len(y) + 1))
    slope_np, intercept_np = np.polyfit(x, y, 1)
    assert r.n_terms == len(y)
    assert abs(r.zipf_slope - slope_np) < 1e-6
    assert abs(r.intercept - intercept_np) < 1e-6
    assert r.zipf_slope < 0  # frequencies decay with rank


def test_group_kfold_no_source_straddles_folds(spark):
    rows = queries_curation.cur_group_kfold(spark, SF).collect()
    folds_per_source = {}
    for r in rows:
        folds_per_source.setdefault(r.source, set()).add(r.fold)
    for source, folds in folds_per_source.items():
        assert len(folds) == 1, f"{source} straddles folds {folds}"
    assert all(0 <= r.fold < queries_curation._K_FOLDS for r in rows)
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_docs
