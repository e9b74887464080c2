"""Plan-shape regression battery for the headline bench legs.

The bench numbers (BENCH_r{N}.json) tell you a leg got slower; these
tests tell you WHY before it ships — they pin the physical-plan
properties each leg's speed depends on (broadcast vs shuffle join,
rank-limit pushdown, parquet filter pushdown, map-side combine, and
the row-at-a-time-Python ban from SURVEY.md §7). A refactor that keeps
the answer but silently trades TakeOrderedAndProject for a global sort,
or a broadcast for a SortMergeJoin, fails here instead of surfacing as
an unexplained bench drift three recordings later.

Assertions run on the UNEXECUTED plan (AQE's initial plan): every
property pinned here is decided statically — join strategy from file
statistics, pushdown and limit placement from the optimizer — so no
job needs to run.
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (  # noqa: E402
    queries,
)


def _plan(spark, sf_dir, name):
    df = queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_k1_topk_is_take_ordered_no_shuffle(spark, sf_dir):
    """1xN cosine top-k: the query row is broadcast (nested-loop, one
    row) and the top-k is TakeOrderedAndProject — per-partition heaps +
    driver merge, NO global sort and NO shuffle. A hashpartitioning
    Exchange here would mean the k=4 result pays a full-data shuffle."""
    plan = _plan(spark, sf_dir, "k1_topk_search")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    # the query-vector lookup is pushed into the parquet scan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(vec_id", plan)


def test_k3_per_group_topk_uses_window_group_limit(spark, sf_dir):
    """Per-section top-k must keep Spark 4's WindowGroupLimit (rank
    limit pushed below the Window): each group keeps k rows in a heap
    instead of fully sorting every partition."""
    plan = _plan(spark, sf_dir, "k3_topk_per_section")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row query side broadcast


def test_knn_join_group_limit_and_pushdown(spark, sf_dir):
    """NxM knn join: query side is a pushed-down range scan
    (vec_id < n_queries reaches the parquet reader) broadcast against
    the corpus, and the per-query k-limit runs as WindowGroupLimit."""
    plan = _plan(spark, sf_dir, "sim_knn_bruteforce")
    assert "WindowGroupLimit" in plan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(vec_id", plan)
    assert "SortMergeJoin" not in plan


def test_q1_pushdown_and_single_agg_exchange(spark, sf_dir):
    """TPC-H Q1: the shipdate predicate reaches the parquet scan
    (row-group pruning at scale), and the plan holds exactly one
    shuffle — partial HashAggregate map-side, final after one
    hashpartitioning Exchange. A second Exchange would mean the
    partial-combine collapsed."""
    plan = _plan(spark, sf_dir, "rel_q1_pricing")
    assert re.search(
        r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", plan
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan  # map-side combine present


def test_q5_small_dims_broadcast(spark, sf_dir):
    """TPC-H Q5 join pyramid: region/nation/supplier-side dims must go
    out as broadcasts — at 100 TB the fact-fact edges may legitimately
    shuffle, but a dim table falling back to SortMergeJoin means file
    statistics stopped reaching the planner."""
    plan = _plan(spark, sf_dir, "rel_q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_sum" in plan


def test_headline_legs_ban_row_python(spark, sf_dir):
    """SURVEY §7 boundary rule, enforced on every catalog-registered
    headline leg: no BatchEvalPython (row-at-a-time Python UDF)
    anywhere in the plan. Python is allowed only Arrow-batched
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)."""
    import bench

    qs = queries()
    for name in bench.HEADLINE:
        assert name in qs, f"headline leg {name} not in catalog"
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF in the hot path"
        )


@pytest.mark.parametrize(
    "name",
    [
        # map-only contracts: entries whose scale story is "zero
        # shuffle" — a Generate/project/filter pipeline over the scan.
        "f1_title_filter",
        "text_quality_score",
        "text_token_count",
        "text_lang_id",
        "cur_pii_scrub",
    ],
)
def test_map_only_entries_have_no_exchange(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "Exchange" not in plan, f"{name}: map-only contract broken"


def test_build_chunks_one_exchange_one_python_pass(spark, sf_dir):
    """A one-split parquet input is narrower than the cluster, so the
    index build spreads the documents on doc_id once; the section
    forward-fill, chunking, chunk numbering and embedding then run as ONE
    Arrow-batched map pass. A second Exchange or a per-column
    ArrowEvalPython here means a layer boundary came back."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import table
    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = build_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", plan)) == 1
    python = re.findall(
        r"\b(MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b",
        plan,
    )
    assert python == ["MapInArrow"]
    assert "Exchange hashpartitioning(doc_id" in plan


@pytest.mark.parametrize(
    "side, exchanges",
    [("wide", 0), ("one_partition", 1), ("adaptive", 1)],
)
def test_build_chunks_spreads_only_narrow_input(spark, sf_dir, side, exchanges):
    """Both sides of the index build's spread choice, and its fallback.
    An input at least ``defaultParallelism`` partitions wide (the
    documents rows as a local frame, one slice per core) is chunked in
    its own partitions: one stage, no Exchange. A one-partition input is
    spread on doc_id first. An input whose count is known only at run
    time (an adaptive plan: here a repartition) is spread too; Catalyst
    folds the two repartitions into the spread's one. No side has a
    Window, and each runs exactly one Python pass."""
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import table
    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
    )
    from ade_agente_documental_empresarial___miner_a_spark.planstats import (
        num_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = {
        "wide": lambda: spark.createDataFrame(docs.collect(), docs.schema),
        "one_partition": lambda: docs.coalesce(1),
        "adaptive": lambda: docs.repartition(2 * cores),
    }[side]()
    parts = num_partitions(docs)
    if side == "wide":
        assert parts >= cores
    elif side == "one_partition":
        assert parts == 1
    else:
        assert parts is None
    plan = build_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", plan)) == exchanges
    assert ("Exchange hashpartitioning(doc_id" in plan) == (exchanges > 0)
    assert "Window" not in plan
    python = re.findall(
        r"\b(MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b",
        plan,
    )
    assert python == ["MapInArrow"]


def test_lsh_verified_small_input_shingles_once(spark, monkeypatch, tmp_path):
    """Below the size gate lsh_verified_pairs checkpoints the per-doc
    shingle arrays once, and the signatures, the band join and both
    verify sides read that checkpoint. Across every plan the call
    executes (the eager checkpoint's and the collected result's),
    ``word_shingles`` — the only ``array_distinct`` on this path — is
    evaluated exactly once. More means some reference re-shingles the
    text again."""
    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        lsh_verified_pairs,
    )

    # a parquet input, as in the catalog and the benchmark: its size
    # estimate is the file size, so the gate sees a small input
    spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} w{i % 3} shared tail words") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    plans = []
    cls = type(docs)
    checkpoint = cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording_checkpoint)
    out = lsh_verified_pairs(docs)
    assert out.collect()
    plans.append(out._jdf.queryExecution().executedPlan().toString())
    assert len(plans) == 2  # the small-input path took the checkpoint
    assert sum(p.count("array_distinct(") for p in plans) == 1


def test_save_index_one_file_per_write_task(spark, tmp_path):
    """The index write is one Parquet file per write task, clustered by
    section: its plan sorts each task's rows and holds no Exchange, so
    the write runs in the build's own tasks. Every task holds rows of
    three sections, which a per-section directory layout would write as
    three files per task. The input is as wide as the cluster (2
    partitions on ``local[2]``), because ``build_chunks`` spreads a
    narrower input first (pinned above)."""
    import glob

    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
        save_index,
    )

    parts = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [
            (i, f"FIRST PART\n\nbody {i}\n\nSECOND PART\n\nmore {i}"
                f"\n\nTHIRD PART\n\nend {i}")
            for i in range(4 * parts)
        ],
        "doc_id long, text string",
    )
    assert docs.rdd.getNumPartitions() == parts
    path = str(tmp_path / "index")
    save_index(build_chunks(docs), path)
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert 1 <= len(files) <= parts
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = []
    while it.hasNext():
        plan = it.next().physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan and path in plan:
            plans.append(plan)
    assert len(plans) == 1
    assert "Exchange" not in plans[0]
    # the per-task sort (global = false) that clusters each file
    assert re.search(r"Arguments: \[section#\d+ ASC NULLS FIRST\], false", plans[0])
