"""Unit tests for the round-4am batch (price-volume bridge,
continuation detection). File suffix am2 avoids clashing with the
earlier round-4m test module name."""

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_dedup,
    queries_relational,
)

SF = "/root/testdata/sf0.001"


def test_bridge_identity_holds(spark):
    rows = queries_relational.rel_price_volume_bridge(spark, SF).collect()
    complete = [
        r for r in rows
        if None not in (r.revenue_delta, r.volume_effect, r.price_effect)
    ]
    assert complete  # at least one flag spans both periods
    for r in complete:
        # decomposition identity: delta = volume effect + price effect
        assert abs(
            r.revenue_delta - (r.volume_effect + r.price_effect)
        ) < 1e-5, r


def test_continuation_detects_split_docs(spark):
    text = "x" * 10 + "SHARED-BOUNDARY-SEGMENT-0123456789abcdef" + "y" * 10
    # doc 1 ends with the 32-char boundary; doc 2 begins with it
    boundary = text[-(10 + 32): -10][:32]
    head = "aaa " * 20 + boundary
    tail = boundary + " bbb" * 20
    df = spark.createDataFrame(
        [(1, head), (2, tail), (3, "unrelated " * 30)],
        "doc_id long, text string",
    )

    orig = queries_dedup.table
    try:
        queries_dedup.table = lambda _s, _sf, _n: df
        pairs = {
            (r.head_doc, r.tail_doc)
            for r in queries_dedup.dedup_continuation(spark, SF).collect()
        }
    finally:
        queries_dedup.table = orig
    assert (1, 2) in pairs
    assert (2, 1) not in pairs  # direction matters: suffix -> prefix
    assert all(3 not in p for p in pairs)
