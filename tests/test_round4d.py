"""Unit tests for the round-4d batch (parity vs DuckDB is covered by
tools/parity.py / the driver gate — these pin semantics on hand-built
inputs and structural properties on the fixtures)."""

from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.plans import (
    queries_curation,
    queries_dedup,
    queries_relational,
    queries_similarity,
    queries_streaming,
    queries_text,
)

SF = "/root/testdata/sf0.001"


def test_weighted_median_reaches_half_weight(spark):
    rows = {
        r["l_returnflag"]: r
        for r in queries_relational.rel_weighted_median(spark, SF).collect()
    }
    assert set(rows) == {"A", "N", "R"}
    for r in rows.values():
        assert r["weighted_median_qty"] is not None
        assert 1 <= r["weighted_median_qty"] <= 50
        assert r["total_weight"] > 0


def test_zorder_buckets_are_locality_boxes(spark):
    rows = queries_relational.rel_zorder_keys(spark, SF).collect()
    assert len(rows) > 1
    for r in rows:
        # each z-bucket must span a narrow box in BOTH dimensions —
        # the defining property of the interleave (bucket of 2^6 zvals
        # can cover at most 2^3 distinct values per dimension)
        assert r["ux_max"] - r["ux_min"] < 8
        assert r["dy_max"] - r["dy_min"] < 8


def test_cms_estimate_is_one_sided(spark):
    rows = queries_relational.rel_heavy_hitters_cms(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["n_cms"] >= r["n_exact"] > 0


def test_curriculum_phases_are_ordered_by_quality(spark):
    rows = sorted(
        queries_curation.cur_curriculum_phases(spark, SF).collect(), key=lambda r: r["phase"]
    )
    assert [r["phase"] for r in rows] == [1, 2, 3, 4]
    qualities = [r["avg_quality"] for r in rows]
    assert qualities == sorted(qualities)


def test_containment_is_directional(spark):
    # b contains ALL of a's shingles (a is a verbatim quote inside b);
    # c shares nothing. containment(a->b) = 1.0, containment(b->a) < 1.
    quote = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, quote),
        (1, "intro words here " + quote + " trailing commentary words"),
        (2, "x1 x2 x3 x4 x5 x6 x7 x8"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # drive the same plan body via a temp parquet dir
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="ade_containment_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in queries_dedup.dedup_containment(spark, d).collect()
    }
    assert out[(0, 1)] == 1.0
    assert out[(1, 0)] < 1.0
    assert not any(2 in k for k in out)


def test_asof_cogrouped_matches_dataframe_asof(spark):
    cg = {
        r["event_id"]: (r["matched_event_id"], r["lag_us"])
        for r in queries_relational.rel_asof_cogrouped(spark, SF).collect()
    }
    df = {
        r["event_id"]: (r["matched_event_id"], r["lag_us"])
        for r in queries_relational.rel_asof_join(spark, SF).collect()
    }
    assert cg == df


def test_pca_loading_is_unit_norm(spark):
    rows = queries_similarity.emb_pca_power(spark, SF).collect()
    assert len(rows) == 64
    norm2 = sum(r["loading"] ** 2 for r in rows)
    # quantized to 12 dp per component -> norm within 1e-9 of 1
    assert abs(norm2 - 1.0) < 1e-9


def test_pmi_pairs_are_canonical_and_bounded(spark):
    import math

    rows = queries_text.text_pmi_pairs(spark, SF).collect()
    assert len(rows) > 0
    n_docs = (
        spark.read.parquet(SF + "/documents.parquet").select("doc_id").count()
    )
    for r in rows:
        assert r["w1"] < r["w2"]          # canonical orientation
        assert r["df_xy"] >= 5            # df floor applied
        # presence PMI is bounded by ln(N / df_xy) (df_x, df_y >= df_xy)
        assert r["pmi"] <= math.log(n_docs / r["df_xy"]) + 1e-9


def test_anomaly_hours_exceed_two_sigma(spark):
    rows = queries_streaming.stream_anomaly_hours(spark, SF).collect()
    for r in rows:
        assert abs(r["zscore"]) >= 2.0


def test_gap_fill_marks_gaps_and_carries_forward(spark):
    rows = queries_relational.rel_gap_fill(spark, SF).collect()
    by_key = {(r["event_type"], str(r["hr"])): r for r in rows}
    assert len(rows) > 0
    # grid is complete: every type covers the same number of hours
    from collections import Counter

    per_type = Counter(r["event_type"] for r in rows)
    assert len(set(per_type.values())) == 1
    for r in rows:
        if r["filled"]:
            assert r["n_events"] == 0


def test_ewma_needs_full_lookback(spark):
    gap = queries_relational.rel_gap_fill(spark, SF)
    ew = queries_relational.rel_ewma_hourly(spark, SF)
    n_types = gap.select("event_type").distinct().count()
    # exactly 23 leading rows are dropped per type (full 24-hour lookback)
    assert ew.count() == gap.count() - 23 * n_types
    assert ew.where("ewma < 0").count() == 0


def test_substring_spans_empty_input(spark):
    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        substring_duplicate_spans,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert substring_duplicate_spans(empty).count() == 0


def test_incremental_dedup_empty_history(spark):
    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        incremental_dedup,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "a")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["status"] for r in incremental_dedup(batch, empty).collect()}
    assert out == {1: "new", 2: "dup_in_batch"}


def test_ivf_recall_eval_bounds(spark):
    rows = queries_similarity.sim_ivf_recall(spark, SF).collect()
    assert len(rows) == 8  # vec_id % 64 == 3 probes over the 500-vec fixture
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_overlap"] == round(r["recall"] * 5)
    # the self-vector always lands in its own probed cell -> recall > 0
    assert all(r["recall"] > 0 for r in rows)
