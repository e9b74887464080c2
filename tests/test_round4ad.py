"""Unit tests for the round-4ad batch (set-similarity battery, labeler
agreement)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_set_similarity_identities(spark):
    rows = queries_text.text_set_similarity_battery(spark, SF).collect()
    assert rows
    for r in rows:
        # coefficient orderings: jaccard <= dice <= overlap
        assert r.jaccard <= r.dice + 1e-12
        assert r.dice <= r.overlap_coef + 1e-12
        assert 0.0 <= r.jaccard <= 1.0
        assert 0.0 <= r.overlap_coef <= 1.0
        # dice/jaccard identity: d = 2j/(1+j)
        expect_dice = 2 * r.jaccard / (1 + r.jaccard) if r.jaccard else 0.0
        assert abs(r.dice - expect_dice) < 1e-6


def test_labeler_agreement_confusion_is_complete(spark):
    import duckdb

    r = queries_curation.cur_labeler_agreement(spark, SF).collect()[0]
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    total = r.both_keep + r.a_only + r.b_only + r.both_drop
    assert total == n_docs
    if r.kappa is not None:
        assert -1.0 <= r.kappa <= 1.0
