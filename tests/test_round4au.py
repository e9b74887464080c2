"""Unit tests for the round-4au batch (tiered pricing, bitext filter)."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_tiered_fee_reference_cases():
    # 250k: 1% of 100k + 0.5% of 100k + 0.1% of 50k = 1000+500+50
    assert queries_relational.tiered_fee_py(250_000) == 1550.0
    assert queries_relational.tiered_fee_py(50_000) == 500.0          # inside band 1
    assert queries_relational.tiered_fee_py(100_000) == 1000.0        # exactly at edge
    assert queries_relational.tiered_fee_py(150_000) == 1000.0 + 250.0
    # the FLAT misread (0.1% of the whole 250k = 250) is wrong:
    assert queries_relational.tiered_fee_py(250_000) != 250.0


def test_tiered_totals_match_reference(spark):
    import duckdb

    got = {
        r.o_orderpriority: r.total_fees
        for r in queries_relational.rel_tiered_pricing(spark, SF).collect()
    }
    rows = duckdb.sql(
        f"""SELECT o_orderpriority, list(o_totalprice)
            FROM read_parquet('{SF}/orders.parquet')
            GROUP BY o_orderpriority"""
    ).fetchall()
    for prio, values in rows:
        expect = sum(queries_relational.tiered_fee_py(round(v, 2)) for v in values)
        assert abs(got[prio] - expect) < 1e-4, prio


def test_bitext_filter_flags_out_of_band(spark):
    rows = queries_curation.cur_bitext_ratio_filter(spark, SF).collect()
    assert rows
    for r in rows:
        in_band = 0.5 <= r.en_len / r.de_len <= 2.0
        assert bool(r.keep) == in_band
