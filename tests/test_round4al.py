"""Unit tests for the round-4al batch (Benford audit, template
families)."""

import math

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_relational,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_benford_shares_sum_to_one(spark):
    rows = queries_relational.rel_benford_audit(spark, SF).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.observed_share for r in rows) - 1.0) < 1e-6
    for r in rows:
        expect = round(math.log10(1 + 1 / r.digit), 9)
        assert r.benford_share == expect
        assert abs(r.abs_deviation - round(abs(r.observed_share - expect), 9)) < 2e-9


def test_template_families_share_prefix(spark):
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        table,
    )

    fams = queries_text.text_template_families(spark, SF).collect()
    if not fams:  # tiny SF may have no collisions; the sf0.01 parity run does
        return
    docs = {
        r.doc_id: r.text
        for r in table(spark, SF, "documents").collect()
    }
    for fam in fams[:5]:
        members = [int(x) for x in fam.member_ids.split(",")]
        assert fam.family_size == len(members)
        assert fam.keeper_id == min(members)
        prefixes = {docs[m][: queries_text._PREFIX_LEN] for m in members}
        assert len(prefixes) == 1  # the family really shares its prefix
