"""IVF cell assignment: the codebook picks the kernel.

``ivf_assign`` runs the Arrow-vectorized numpy kernel
(``_ivf_assign_arrow``) when the codebook is dense (``_cents_dense``) and
the Catalyst HOF fold (``_ivf_assign_hof``) otherwise; the Lloyd update
applies the same rule to each iteration. Tests force the HOF lane on any
codebook by patching ``_cents_dense`` to return False.

The contract is AGREEMENT, not shared code paths: the numpy matmul may
differ from the HOF's sequential fold in the last ulp of each dot, so an
assignment flip would need two centroid scores within ~1 ulp of each
other. These tests pin exact agreement on the fixtures (measured 0
disagreements at 100k vectors too — docs/ROUND5.md §6c) and that the
refined codebook, which only depends on assignments + exact integer
means, is bit-identical under either kernel.
"""

import inspect
import os

import pytest
from pyspark.sql import functions as F

from ade_agente_documental_empresarial___miner_a_spark.operators import ann
from ade_agente_documental_empresarial___miner_a_spark.operators.ann import (
    _centroid_rows,
    _ivf_assign_arrow,
    _ivf_assign_hof,
    ivf_topk,
    lloyd_refine_codebook,
)


def _on_hof(monkeypatch, build):
    """``build()`` with every codebook treated as non-dense, so each IVF
    assignment and Lloyd update it plans takes the HOF lane."""
    with monkeypatch.context() as m:
        m.setattr(ann, "_cents_dense", lambda cents: False)
        return build()


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def test_arrow_assignment_matches_hof_exactly(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = _centroid_rows(emb, 16, "embedding", "vec_id")
    hof = _ivf_assign_hof(emb, cents).select("vec_id", "cell")
    arrow = _ivf_assign_arrow(emb, cents).select(
        "vec_id", F.col("cell").alias("cell2")
    )
    joined = hof.join(arrow, "vec_id")
    assert joined.count() == emb.count()
    assert joined.where("cell <> cell2").count() == 0


def test_arrow_refined_codebook_bit_identical(spark, sf_dir, monkeypatch):
    emb = _emb(spark, sf_dir)
    hof = _on_hof(monkeypatch, lambda: lloyd_refine_codebook(emb, 16, iters=1))
    arrow = lloyd_refine_codebook(emb, 16, iters=1)
    assert hof == arrow


def test_arrow_ivf_topk_identical_results(spark, sf_dir, monkeypatch):
    emb = _emb(spark, sf_dir)
    hof = _on_hof(
        monkeypatch,
        lambda: ivf_topk(emb, query_id=7, k=5, nprobe=4, n_centroids=16),
    ).collect()
    arrow = ivf_topk(emb, query_id=7, k=5, nprobe=4, n_centroids=16).collect()
    assert hof == arrow


def test_default_impl_is_arrow_and_matches_hof(spark, sf_dir, monkeypatch):
    # the fixtures' dense codebook must pick the arrow lane and return
    # exactly what the HOF lane returns
    emb = _emb(spark, sf_dir)
    default = ivf_topk(emb, query_id=7, k=5, nprobe=4, n_centroids=16)
    hof = _on_hof(
        monkeypatch,
        lambda: ivf_topk(emb, query_id=7, k=5, nprobe=4, n_centroids=16),
    )
    # the default plan routes assignment through the Arrow kernel
    # (MapInArrow node present), the forced HOF lane does not
    assert "MapInArrow" in default._jdf.queryExecution().toString()
    assert "MapInArrow" not in hof._jdf.queryExecution().toString()
    assert default.collect() == hof.collect()


def test_degenerate_norms_match_hof_null_semantics(spark):
    # zero VECTOR → every score NULL on the HOF path → struct-max falls
    # through to the largest cid; zero CENTROID → that one score NULL →
    # it must lose to any real score. The arrow kernel reproduces both
    # via the NaN→-inf mask (without it, numpy argmax treats NaN as
    # maximal and a zero centroid would capture every vector).
    cents = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(
        [
            (10, [0.0, 0.0, 0.0]),   # zero vector: all-NULL → max cid
            (11, [1.0, 0.0, 0.0]),   # real winner despite NULL vs cent 0
            (12, [0.5, 0.5, 0.0]),   # exact tie c1/c2 → larger cid
            (13, [-1.0, 0.0, 0.0]),  # negative best: score 0 beats -1
        ],
        "vec_id long, embedding array<double>",
    )
    hof = {r.vec_id: r.cell for r in _ivf_assign_hof(emb, cents).collect()}
    arrow = {r.vec_id: r.cell for r in _ivf_assign_arrow(emb, cents).collect()}
    assert hof == arrow == {10: 2, 11: 1, 12: 2, 13: 2}


def test_malformed_and_nonfinite_inputs_match_hof(spark):
    # the full degenerate matrix the arrow kernel must survive exactly
    # like the HOF fold (code-review r8 findings): NULL embeddings
    # and ragged lengths (HOF zip_with pads with nulls → all-NULL score
    # → largest cid; a naive np.stack would kill the job), NaN operands
    # with nonzero norms (HOF score is genuinely NaN and Spark sorts
    # NaN GREATEST — distinct from try_divide-NULL, which LOSES), and a
    # NaN centroid capturing rows via that NaN-greatest rule.
    nan = float("nan")
    cents = [
        (0, [1.0, 0.0, 0.0]),
        (1, [nan, 1.0, 0.0]),   # NaN centroid: NaN score sorts GREATEST
        (2, [0.0, 1.0, 0.0]),
    ]
    rows = [
        (10, [1.0, 0.0, 0.0]),
        (11, [0.0, 1.0, 0.0]),
        (12, None),                   # NULL embedding
        (13, [1.0, 0.0]),             # ragged short
        (14, [nan, 0.5, 0.0]),        # NaN vector
        (15, [0.0, 0.0, 0.0]),        # zero-norm vs a NaN centroid
        (16, [1.0, 0.0, 0.0, 5.0]),   # ragged long
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    hof = {r.vec_id: r.cell for r in _ivf_assign_hof(emb, cents).collect()}
    arrow = {r.vec_id: r.cell for r in _ivf_assign_arrow(emb, cents).collect()}
    assert hof == arrow
    # the malformed rows fall through to the largest cid, like all-NULL
    assert hof[12] == 2 and hof[13] == 2 and hof[16] == 2


def test_arrow_assign_does_not_mutate_input_schema(spark, sf_dir):
    # StructType.add mutates in place and df.schema is cached on the
    # DataFrame — a naive schema extension corrupts the input's column
    # list for every later use of the same df (regression)
    emb = _emb(spark, sf_dir)
    cols_before = list(emb.columns)
    _ivf_assign_arrow(emb, _centroid_rows(emb, 16, "embedding", "vec_id"))
    assert list(emb.columns) == cols_before
    assert "cell" not in emb.columns


def test_arrow_assign_rejects_unknown_impl(spark, sf_dir):
    # no IVF entry point takes a lane option: the codebook picks the
    # kernel, so any impl= is an unknown keyword
    entry_points = (
        ann.ivf_assign,
        ann.ivf_cells,
        ann.lloyd_refine_codebook,
        ann.ivf_topk,
        ann.ivf_quantized_topk,
        ann.save_ivf_i8_index,
        ann.ivf_i8_search,
    )
    for fn in entry_points:
        assert "impl" not in inspect.signature(fn).parameters, fn.__name__
    with pytest.raises(TypeError, match="impl"):
        ivf_topk(_emb(spark, sf_dir), query_id=7, impl="simd")


def test_exact_score_ties_resolve_to_larger_cid_on_both_kernels(spark):
    # two centroids with IDENTICAL vectors force bit-exact equal scores:
    # the HOF struct-max order (score, then cid) picks the larger cid,
    # and the arrow kernel's cid-descending scan + argmax-first-max must
    # match it exactly
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(
        [(10, [0.0, 1.0]), (11, [1.0, 0.0]), (12, [0.6, 0.8])],
        "vec_id long, embedding array<float>",
    )
    hof = {r.vec_id: r.cell for r in _ivf_assign_hof(emb, cents).collect()}
    arrow = {r.vec_id: r.cell for r in _ivf_assign_arrow(emb, cents).collect()}
    assert hof == arrow == {10: 2, 11: 0, 12: 2}


def test_lloyd_fused_partials_update_matches_hof_on_edges(
    spark, tmp_path, monkeypatch
):
    # r10 optimization pin: the arrow lane's fused mapInArrow centroid
    # update (assignment + map-side integer partial sums,
    # _lloyd_partials_arrow) must refine BIT-IDENTICAL codebooks to the
    # all-Spark posexplode+agg path across the full edge surface: NULL
    # vectors (contribute nothing), NULL elements (counted, code NULL),
    # ragged short/long rows (quantized over their actual length),
    # NaN/inf rows (floor(NaN)=0, floor(+-inf)=Long.MAX/MIN), zero
    # vectors and sub-1e-30 values (the abs_max guard). Iteration 2
    # starts from an adversarially RAGGED refined codebook, which must
    # route through the HOF lane by default too.
    rows = [
        (0, [0.1] * 8),
        (1, [0.2] * 8),
        (2, [-0.9] * 8),
        (3, [0.5, -0.5, 0.25, -0.25, 0.125, 1.0, -1.0, 0.0]),
        (12, None),
        (13, [0.3] * 7),
        (14, [0.1] * 8 + [0.5]),
        (15, [None] + [0.4] * 7),
        (16, [float("nan")] + [1.0] * 7),
        (17, [float("inf")] + [1.0] * 7),
        (18, [0.0] * 8),
        (19, [1e-32] * 8),
        (20, [-0.7] * 8),
        (21, [float("-inf")] * 8),
        (22, [None] * 8),
    ]
    edge = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).withColumn("label", F.lit(0))
    a = lloyd_refine_codebook(edge, 4, iters=2)
    h = _on_hof(monkeypatch, lambda: lloyd_refine_codebook(edge, 4, iters=2))
    assert a == h

    # Every IVF entry point returns the HOF lane's rows on the edge frame:
    # refine_iters=0 keeps the dense seeds, so the numpy kernel assigns
    # the edge rows; 1 leaves a ragged codebook. Rows compare by repr
    # (NaN scores). The empty frame has no id below n_centroids, so its
    # seed codebook is empty (and stays so under refinement): no cell,
    # no candidate, no row.
    empty = spark.createDataFrame(
        [(100 + i, [float(i + 1)] * 8, 0) for i in range(4)],
        "vec_id long, embedding array<float>, label int",
    )

    def answers(df, r, path):
        ann.save_ivf_i8_index(df, path, n_centroids=4, refine_iters=r)
        codes, cents = ann.load_ivf_i8_index(spark, path)
        frames = (
            ann.ivf_topk(
                df, query_id=3, k=5, nprobe=2, n_centroids=4, refine_iters=r
            ),
            ann.ivf_quantized_topk(
                df, query_max_id=23, k=3, nprobe=2, n_centroids=4,
                refine_iters=r,
            ),
            ann.ivf_i8_search(
                codes, cents, df.where(F.col("vec_id") < 23), k=3, nprobe=2
            ),
        )
        return [sorted(map(repr, f.collect())) for f in frames]

    for r in (0, 1):
        got = answers(edge, r, str(tmp_path / f"edge{r}"))
        want = _on_hof(
            monkeypatch, lambda: answers(edge, r, str(tmp_path / f"hof{r}"))
        )
        assert got == want and all(got), r
        assert answers(empty, r, str(tmp_path / f"empty{r}")) == [[]] * 3
        assert _on_hof(
            monkeypatch,
            lambda: answers(empty, r, str(tmp_path / f"empty_hof{r}")),
        ) == [[]] * 3


def test_only_ann_imports_its_private_names():
    # the kernel choice lives in operators/ann.py: callers use
    # ivf_cells / ivf_assign / probe_cells, never a private lane
    from tests.conftest import private_name_leaks

    assert private_name_leaks("operators.ann") == []
