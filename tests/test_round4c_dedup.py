"""Unit tests for the round-4c batch: substring-span dedup, incremental
corpus dedup, and text normalization semantics on hand-built corpora
(parity vs DuckDB is covered by tools/parity.py / the driver gate)."""

import pytest
from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
    incremental_dedup,
    substring_duplicate_spans,
)
from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_dedup,
    queries_graph,
    queries_ingest,
    queries_text,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_spans_flags_shared_runs(spark):
    # doc 0 and doc 1 share a verbatim 9-word run -> two 8-word windows
    # of that run are duplicated in each; doc 2 is disjoint.
    shared = "one two three four five six seven eight nine"
    rows = [
        (0, shared + " alpha beta"),
        (1, "pre " + shared),
        (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
    ]
    out = {
        r["doc_id"]: r
        for r in substring_duplicate_spans(_docs(spark, rows)).collect()
    }
    # doc 0: 11 words -> 4 windows, the 2 fully inside `shared` are dups
    assert out[0]["n_spans"] == 4 and out[0]["dup_spans"] == 2
    # doc 1: 10 words -> 3 windows, 2 dups (offset by the 'pre' prefix)
    assert out[1]["n_spans"] == 3 and out[1]["dup_spans"] == 2
    assert out[2]["dup_spans"] == 0 and out[2]["dup_frac"] == 0.0
    assert out[0]["dup_frac"] == 0.5


def test_substring_spans_short_docs_absent(spark):
    rows = [(0, "a b c"), (1, "one two three four five six seven eight")]
    out = substring_duplicate_spans(_docs(spark, rows)).collect()
    # doc 0 has < 8 words -> no windows -> absent; doc 1 has exactly one.
    assert {r["doc_id"] for r in out} == {1}
    assert out[0]["n_spans"] == 1 and out[0]["dup_spans"] == 0


def test_incremental_dedup_statuses(spark):
    historic = _docs(spark, [(1, "alpha"), (2, "beta")])
    batch = _docs(
        spark,
        [
            (10, "alpha"),      # already ingested -> dup_historic
            (11, "gamma"),      # first in batch   -> new
            (12, "gamma"),      # later same hash  -> dup_in_batch
            (13, "  ALPHA "),   # normalization folds into historic hash
        ],
    )
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_dedup(batch, historic).collect()
    }
    assert out == {
        10: "dup_historic",
        11: "new",
        12: "dup_in_batch",
        13: "dup_historic",
    }


def test_incremental_dedup_plan_has_no_broadcast_of_history(spark):
    # The historic hash set must NOT be collected/broadcast by the
    # operator itself (at corpus scale it cannot be); membership is a
    # shuffle join the optimizer is free to specialize.
    historic = _docs(spark, [(i, f"doc {i}") for i in range(50)])
    batch = _docs(spark, [(100 + i, f"doc {i * 10}") for i in range(10)])
    df = incremental_dedup(batch, historic)
    assert df.count() == 10
    statuses = {r["status"] for r in df.collect()}
    assert statuses == {"dup_historic", "new"}


def test_text_normalize_catalog_entry(spark):
    df = queries_text.text_normalize(spark, "/root/testdata/sf0.001")
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("changed").cast("int")).alias("changed"),
    ).collect()[0]
    assert row["n"] > 0
    # fixture corpus is single-spaced lowercase ASCII -> idempotent
    assert row["changed"] == 0
    assert df.where(F.length("norm_hash") != 32).count() == 0


def test_graph_pagerank_is_a_distribution(spark):
    rows = queries_graph.graph_pagerank(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 25
    total = sum(r["pagerank"] for r in rows)
    # leaky formulation: mass from dangling nations is dropped, so the
    # total is <= 1 and within the teleport floor of 1
    assert 0.15 <= total <= 1.000001
    assert all(r["pagerank"] >= 0.15 / 25 - 1e-9 for r in rows)


def test_trigram_lm_scores_are_negative_logs(spark):
    df = queries_text.text_trigram_lm(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["avg_logp"] < 0 for r in rows)
    assert all(r["n_trigrams"] > 0 for r in rows)


def test_corpus_funnel_is_monotone(spark):
    rows = queries_curation.cur_corpus_funnel(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_input"] >= r["n_quality"] >= r["n_unique"] >= 0
        assert (r["tokens_out"] > 0) == (r["n_unique"] > 0)


def test_format_roundtrips_preserve_rows(spark):
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn in (queries_ingest.s9_orc_roundtrip, queries_ingest.s10_jsonl_roundtrip):
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() == src.count()
        assert df.schema == src.select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).schema


def test_incremental_dedup_bloom_filter_injects_at_scale_shape(spark):
    """The docstring's scale claim, pinned: when the membership probe is
    a shuffle join (the only possibility at corpus scale — emulated by
    disabling auto-broadcast), Spark's runtime bloom-filter injection
    rewrites the probe side with bloom_filter_agg/might_contain."""

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = queries_dedup.dedup_incremental(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
