"""Unit tests for the round-4aw batch (HHI, mixture entropy)."""

import math

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_hhi_bounds(spark):
    rows = queries_relational.rel_hhi_concentration(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1.0 / r.n_suppliers - 1e-6 <= r.hhi <= 1.0 + 1e-9
        assert abs(r.n_effective - round(1.0 / r.hhi, 9)) < 2e-9
        assert r.n_effective <= r.n_suppliers + 1e-6


def test_mix_entropy_bounds(spark):
    rows = queries_curation.cur_mix_entropy(spark, SF).collect()
    assert rows
    for r in rows:
        max_h = math.log(r.n_sources)
        assert -1e-9 <= r.entropy_nats <= max_h + 1e-6
        assert 0.0 <= r.entropy_normalized <= 1.0 + 1e-6
        assert r.max_source_share >= 1.0 / r.n_sources - 1e-9
