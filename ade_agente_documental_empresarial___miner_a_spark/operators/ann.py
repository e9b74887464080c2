"""Approximate nearest neighbour — EXT surface.

The reference's ANN is Chroma's HNSW (``micro-infobot/app.py:130``,
hnswlib/C++). A graph index doesn't map to Spark's execution model; the
Spark-native scale path is **random-hyperplane LSH bucketing**: assign each
vector a bucket from the signs of ``dim`` dot products with fixed random
hyperplanes, then only score within buckets. Exact brute-force top-k (in
``similarity.py``) is the correctness baseline.

The hyperplanes are ±1 literals derived from md5 at module import
(seed-fixed) — deterministic, embeddable verbatim in the DuckDB oracle, and
JVM-evaluable with zero Python boundary at query time.

Scale: bucketing is map-only; the per-bucket join shuffles O(N) rows on a
uniform key. 2^planes buckets: pick planes ≈ log2(N / desired bucket size).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import (
    const_l2_norm,
    l2_norm,
    lit_double_matrix,
    lit_doubles,
    lit_ints,
    lit_longs,
)

DEFAULT_PLANES = 6
DEFAULT_DIM = 64
SEED = 42


def hyperplanes(
    n_planes: int = DEFAULT_PLANES, dim: int = DEFAULT_DIM, seed: int = SEED
) -> list[list[int]]:
    """±1 hyperplane matrix from md5(seed:plane:dim-byte-stream)."""
    planes = []
    for p in range(n_planes):
        comps: list[int] = []
        counter = 0
        while len(comps) < dim:
            h = hashlib.md5(f"{seed}:{p}:{counter}".encode()).digest()
            for byte in h:
                if len(comps) >= dim:
                    break
                comps.append(1 if byte & 1 else -1)
            counter += 1
        planes.append(comps)
    return planes


# NOTE: lit_doubles / lit_double_matrix / lit_longs (imported above) are the
# one-py4j-round-trip literal builders; canonical home functions/vector.py.
# The ANN codebook paths are where the per-element F.lit cost was measured —
# 16k py4j calls ≈ 60+ s per 256×64 serving plan before the fix.
def _dot_literal(vec_col: Column, plane: list[int] | list[float]) -> Column:
    """Σ vᵢ·hᵢ with literal h — a signed sum, fold in array order.

    Deliberately a zip_with/aggregate HOF, NOT an unrolled element_at
    chain: unrolling a 64-dim dot across a 64-entry codebook builds a
    ~4k-node expression whose generated method exceeds the JVM's JIT
    size limits and runs interpreted — measured 4× SLOWER than the HOF
    loop on 100k×64-d assignment. The HOF keeps the bytecode loop-shaped
    and JIT-hot; the fold order is the array order, matching the DuckDB
    oracle mirror (``duck_dot``) bit-for-bit."""
    arr = lit_doubles([float(x) for x in plane])
    prods = F.zip_with(vec_col, arr, lambda x, y: x.cast("double") * y)
    return F.aggregate(prods, F.lit(0.0), lambda s, x: s + x)


def bucket_expr(
    vec_col: Column, planes: list[list[int]] | None = None
) -> Column:
    """LSH bucket id = Σ_p 2^p · [dot(v, H_p) > 0].

    Packed like _cell_scores/pq_encode: one plane-matrix literal and one
    transform lambda instead of a per-plane _dot_literal HOF (~0.25 s of
    py4j lambda construction each). The inner dot is the same zip_with/
    aggregate fold in the same order, the 2^p term is pow(2.0, p) cast
    to long (a power of two is exactly representable in double, so the
    cast is exact), and the final sum folds p in plane order — bucket ids are
    bit-identical to the unpacked form (and to duck_bucket's mirror)."""
    planes = planes or hyperplanes()
    pm = lit_double_matrix([[float(x) for x in plane] for plane in planes])
    terms = F.transform(
        pm,
        lambda pl, i: F.when(
            F.aggregate(
                F.zip_with(vec_col, pl, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            > 0,
            F.pow(F.lit(2.0), i).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda s, x: s + x)


def with_buckets(
    emb: DataFrame,
    vec_col: str = "embedding",
    planes: list[list[int]] | None = None,
    out_col: str = "bucket",
) -> DataFrame:
    return emb.withColumn(out_col, bucket_expr(F.col(vec_col), planes))


def lsh_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """Bucketed ANN top-k: score only same-bucket candidates, exact cosine
    rerank, top-k per query. Returns (query_id, vec_id, score, rnk)."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_staged

    planes = planes or hyperplanes()
    # norms staged once per side below the bucket join (bit-exact
    # re-grouping of cosine_similarity — see cosine_staged): the
    # interpreted norm folds run N + M times, not per candidate pair
    q = with_buckets(queries, vec_col, planes).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        "bucket",
    )
    idx = with_buckets(index, vec_col, planes).withColumn(
        "_vn", l2_norm(F.col(vec_col))
    )
    joined = (
        idx.join(F.broadcast(q), "bucket")
        .where(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "score",
            cosine_staged(
                F.col(vec_col), F.col("_qvec"), F.col("_vn"), F.col("_qn")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        joined.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", F.col(id_col), "score", "rnk")
    )


def mllib_lsh_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
) -> DataFrame:
    """MLlib alternative ANN: ``BucketedRandomProjectionLSH`` over the
    same tables (SURVEY §4 row 2's opt-in path). Euclidean-bucketed —
    for L2-normalized embeddings the ranking agrees with cosine. Returns
    (query_id, vec_id, dist) for the approx top-k per query."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    idx = index.select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=SEED,
    ).fit(idx)
    joined = model.approxSimilarityJoin(q, idx, float("inf"), distCol="dist")
    from pyspark.sql import Window

    w = Window.partitionBy("datasetA.query_id").orderBy(
        F.col("dist"), F.col(f"datasetB.{id_col}")
    )
    return (
        joined.where(F.col("datasetA.query_id") != F.col(f"datasetB.{id_col}"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            F.col("datasetA.query_id").alias("query_id"),
            F.col(f"datasetB.{id_col}").alias(id_col),
            "dist",
        )
    )


def _centroid_rows(
    emb: DataFrame, n_centroids: int, vec_col: str, id_col: str
) -> list[tuple[int, list[float]]]:
    """The coarse codebook: the vectors with the n smallest ids —
    deterministic and engine-portable (a production deployment would
    k-means-refine these seeds offline; the query-time plan is identical
    either way). Bounded collect: n_centroids rows by definition."""
    rows = (
        emb.where(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    return sorted((r[0], list(r[1])) for r in rows)


def lloyd_refine_codebook(
    emb: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 1,
) -> list[tuple[int, list[float]]]:
    """Seeded Lloyd's refinement of the coarse codebook, engine-portable.

    Each iteration: (1) map-only nearest-centroid assignment against the
    current literal codebook (zero shuffle); (2) centroid update as the
    element-wise mean of the assigned vectors' **int8 codes** — integer
    sums are exact and order-independent, so the refined centroids are
    bit-identical on any engine (same trick as ``sim_quantized_topk``; a
    float mean would be shuffle-order-dependent and break the oracle).
    Code space is per-vector scale-normalized (q ≈ 127·v/|v|∞), i.e. this
    is spherical k-means up to quantization — exactly what cosine wants.

    One groupBy per iteration over (cell, dim) keys — at 100 TB this is a
    single well-partitioned agg per pass; the collect is n_centroids × dim
    doubles (bounded). Empty cells drop out deterministically, and an
    empty codebook (no seed id below n_centroids) is returned unchanged.
    """
    from ..functions.vector import abs_max, quantize_i8

    cents = _centroid_rows(emb, n_centroids, vec_col, id_col)
    for _ in range(iters):
        if not cents:
            break  # no cell to update
        if _cents_dense(cents):
            # fused Arrow kernel: assignment + map-side integer partial
            # aggregation in one pass over only the vector column — the
            # exploded (n_rows x dim)-row generate/agg below was the
            # dominant IVF build cost (guide §2.3/§4.2; measured ~3.5 s
            # of the 100k-vector Lloyd pass). Integer partial sums are
            # order-independent, so the means — and the codebook — are
            # bit-identical (tests/test_ann_arrow.py pins this,
            # including NULL/ragged/non-finite edges).
            partials = _lloyd_partials_arrow(emb, cents, vec_col)
            means = partials.groupBy("cell", "i").agg(
                (
                    F.sum("psum").cast("double")
                    / F.sum("pcnt").cast("double")
                ).alias("c")
            )
        else:
            # a ragged or None-bearing codebook: the numpy kernels need a
            # rectangular matrix, so assignment takes the HOF fold (which
            # pads) and the update posexplodes + aggregates in Spark
            codes = _ivf_assign_hof(emb, cents, vec_col).select(
                "cell",
                F.posexplode(
                    quantize_i8(F.col(vec_col), abs_max(F.col(vec_col)))
                ).alias("i", "code"),
            )
            means = codes.groupBy("cell", "i").agg(
                (
                    F.sum("code").cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("c")
            )
        rows = (
            means.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("s"))
            .collect()
        )
        cents = sorted((r["cell"], [e["c"] for e in r["s"]]) for r in rows)
    return cents


def _cents_dense(cents: list[tuple[int, list[float]]]) -> bool:
    """True when the codebook is a non-empty dense rectangular float
    matrix — the precondition for the numpy kernels, and so the rule that
    picks every IVF assignment lane. Adversarial refinements (ragged seed
    vectors, all-NULL-element cells) can yield ragged or None-bearing
    centroids, which the HOF fold pads/propagates; such codebooks, and
    the empty one, take the all-Spark path."""
    if not cents:
        return False
    d = len(cents[0][1])
    return all(
        len(cvec) == d and all(x is not None for x in cvec)
        for _, cvec in cents
    )


def _codebook_np(cents: list[tuple[int, list[float]]]):
    """(C, cids, cnorms, dim) in the cid-DESCENDING layout the Arrow
    assignment kernel scans (argmax-first-max then matches the HOF
    struct-max tie rule — see _ivf_assign_arrow)."""
    import numpy as np

    by_cid_desc = sorted(cents, key=lambda t: -t[0])
    C = np.asarray([cvec for _, cvec in by_cid_desc], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in by_cid_desc], dtype=np.int64)
    cnorms = np.asarray(
        [const_l2_norm(cvec) for _, cvec in by_cid_desc], dtype=np.float64
    )
    return C, cids, cnorms, C.shape[1]


def _assign_cells_matmul(v, C, cids, cnorms):
    """HOF-exact argmax-cosine cells for a dense (n, dim) float64 matrix.

    The shared batch core of ``_ivf_assign_arrow`` AND
    ``_lloyd_partials_arrow`` — the single home of the last-ulp-sensitive
    HOF-equivalence rules, handled in order:

    (1) denominator == 0 (zero vector / zero centroid): try_divide →
        NULL, which LOSES the struct-max — mask to -inf (an all--inf row
        argmaxes to index 0 = the largest cid, matching the all-NULL
        fallthrough);
    (2) remaining NaN (a non-finite operand with nonzero norms): Spark's
        total order puts NaN ABOVE Infinity, so NaN wins even against a
        genuine +inf score (|v·c| overflow) — rows with any NaN take the
        FIRST NaN column (NaN-equal ties go to index 0, the struct-max
        tie rule), never a +inf one;
    (3) finite scores compare as-is (centroids arrive cid-descending, so
        argmax-first-max resolves ties to the larger cid — the HOF
        struct-max order).

    Rows whose elements were NULL arrive here as NaN (Arrow->numpy) and
    fall out through the NaN branch to cids[0], the same largest-cid
    outcome the HOF all-NULL struct-max produces."""
    import numpy as np

    with np.errstate(invalid="ignore", divide="ignore"):
        vnorms = np.sqrt((v * v).sum(axis=1, keepdims=True))
        scores = (v @ C.T) / (vnorms * cnorms)
    denom_zero = (vnorms * cnorms) == 0.0
    scores = np.where(denom_zero, -np.inf, scores)
    nan = np.isnan(scores)
    pick = np.where(
        nan.any(axis=1),
        nan.argmax(axis=1),
        np.where(nan, -np.inf, scores).argmax(axis=1),
    )
    return cids[pick]


_LONG_MAX = (1 << 63) - 1
_LONG_MIN = -(1 << 63)


def _quantize_row_exact(vals: list) -> list:
    """Spark-exact quantize_i8(v, abs_max(v)) for ONE row that the
    vectorized fast path cannot take (NULL elements, ragged length, or
    non-finite values). Mirrors the engine semantics probed on Spark
    4.1: abs_max = greatest-fold over non-NULL |x| (NaN wins, NULLs
    skipped, floor 1e-30); code = floor(x*127.0/scale + 0.5) with
    floor(NULL)=NULL, floor(NaN)=0, floor(+-inf)=+-Long.MAX/MIN."""
    import math

    nn = [abs(float(x)) for x in vals if x is not None]
    if any(math.isnan(x) for x in nn):
        scale = float("nan")
    else:
        scale = max(nn, default=0.0)
        scale = scale if scale > 1e-30 else 1e-30
    out = []
    for x in vals:
        if x is None:
            out.append(None)
            continue
        t = float(x) * 127.0 / scale + 0.5
        if math.isnan(t):
            out.append(0)
        elif t == float("inf"):
            out.append(_LONG_MAX)
        elif t == float("-inf"):
            out.append(_LONG_MIN)
        else:
            out.append(math.floor(t))
    return out


def _lloyd_partials_arrow(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-(cell, i) partial code sums/counts for the Lloyd centroid
    update, computed inside ONE Arrow pass over only the vector column.

    The HOF update path materializes n_rows x dim exploded (cell, i,
    code) rows (posexplode of an interpreted quantize_i8 transform) just
    to sum them into n_cells x dim groups — at 100k x 64 that is a 6.4M-
    row generate + hash-agg whose cost dominates the whole IVF build
    (guide §2.3 "aggregate before you shuffle", §4.2). This kernel fuses
    assignment (the same matmul core as _ivf_assign_arrow) and the
    integer partial aggregation into the map side: each Arrow batch
    emits at most n_cells x dim tiny partial rows (cell, i, psum, pcnt).
    Integer sums are order-independent, so the final per-(cell, i)
    sum/count — and therefore the refined codebook — is BIT-IDENTICAL
    to the exploded path (pinned in tests/test_ann_arrow.py, including
    the NULL-element / ragged / non-finite edges):

    - NULL embedding row: posexplode emits nothing -> contributes nothing.
    - NULL element: the exploded row is counted but its code is NULL
      (sum skips it) -> pcnt 1, psum NULL; a partial group whose codes
      are all NULL must yield a NULL sum, so partials carry psum=NULL
      and Spark's NULL-skipping sum over partials reproduces the
      all-NULL -> NULL case exactly.
    - ragged rows quantize over their actual length (posexplode
      semantics), via the exact per-row fallback.
    - non-finite rows ride the per-row fallback with the probed
      floor(NaN)=0 / floor(+-inf)=Long.MAX/MIN semantics.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    C, cids, cnorms, dim = _codebook_np(cents)

    def partials(batches):
        for rb in batches:
            arr = rb.column(0)
            if rb.num_rows == 0:
                continue
            row_valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
            lengths = pc.list_value_length(arr).to_numpy(
                zero_copy_only=False
            )
            # flatten() skips NULL list rows, so its values line up with
            # the row_valid rows in order
            values = arr.flatten()
            elem_null = pc.is_null(values).to_numpy(zero_copy_only=False)
            vals = values.to_numpy(zero_copy_only=False).astype(np.float64)
            vlen = lengths[row_valid].astype(np.int64)
            n_valid = int(row_valid.sum())
            if n_valid == 0:
                continue
            cell_acc: dict[int, np.ndarray] = {}
            cnt_acc: dict[int, int] = {}
            extra = []  # (cell, i, psum_or_None, pcnt) fallback rows
            if (vlen == dim).all():
                M = vals.reshape(n_valid, dim)
                anynull = elem_null.reshape(n_valid, dim).any(axis=1)
                cells = _assign_cells_matmul(M, C, cids, cnorms)
                clean = ~anynull & np.isfinite(M).all(axis=1)
                if clean.any():
                    vc = M[clean]
                    cc = cells[clean]
                    scale = np.maximum(np.abs(vc).max(axis=1), 1e-30)
                    codes = np.floor(
                        vc * 127.0 / scale[:, None] + 0.5
                    ).astype(np.int64)
                    ucells, inv = np.unique(cc, return_inverse=True)
                    sums = np.zeros((len(ucells), dim), dtype=np.int64)
                    np.add.at(sums, inv, codes)
                    cnts = np.bincount(inv, minlength=len(ucells))
                    for j, cid in enumerate(ucells):
                        cell_acc[int(cid)] = sums[j]
                        cnt_acc[int(cid)] = int(cnts[j])
                fb_idx = np.nonzero(~clean)[0]
            else:
                # mixed/ragged batch: everything through the fallback
                cells = None
                fb_idx = np.arange(n_valid)
            if len(fb_idx):
                ends = np.cumsum(vlen)
                starts = ends - vlen
                for r in fb_idx:
                    s, e = int(starts[r]), int(ends[r])
                    row = [
                        None if elem_null[p] else float(vals[p])
                        for p in range(s, e)
                    ]
                    if cells is not None:
                        cell = int(cells[r])
                    elif e - s == dim and not any(
                        x is None for x in row
                    ):
                        cell = int(
                            _assign_cells_matmul(
                                np.asarray(
                                    [row], dtype=np.float64
                                ),
                                C,
                                cids,
                                cnorms,
                            )[0]
                        )
                    else:
                        # ragged or NULL-element: every HOF score is
                        # NULL -> struct-max falls to the largest cid
                        cell = int(cids[0])
                    for i, code in enumerate(_quantize_row_exact(row)):
                        extra.append((cell, i, code, 1))
            out_cell, out_i, out_psum, out_pcnt = [], [], [], []
            for cid in sorted(cell_acc):
                out_cell.extend([cid] * dim)
                out_i.extend(range(dim))
                out_psum.extend(int(x) for x in cell_acc[cid])
                out_pcnt.extend([cnt_acc[cid]] * dim)
            for cell, i, code, n in extra:
                out_cell.append(cell)
                out_i.append(i)
                out_psum.append(code)
                out_pcnt.append(n)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_cell, pa.int64()),
                    pa.array(out_i, pa.int32()),
                    pa.array(out_psum, pa.int64()),
                    pa.array(out_pcnt, pa.int64()),
                ],
                ["cell", "i", "psum", "pcnt"],
            )

    return emb.select(vec_col).mapInArrow(
        partials, schema="cell long, i int, psum long, pcnt long"
    )


def _cell_scores(
    vec_col: Column,
    cents: list[tuple[int, list[float]]],
    vnorm: Column | None = None,
) -> Column:
    """array<struct<score,cid>> of cosine(v, centroid) — centroids are
    literals, so this is a pure projection (no join, no shuffle);
    float32 literals are exact in double.

    Score shape: ``dot(v,c) / (|v| * |c|)`` with |c| a driver-computed
    constant — a bit-exact re-grouping of cosine_similarity() (same
    IEEE fold orders), so oracle parity is unaffected. |v| is the one
    per-row subexpression shared across all n_centroids scores; pass
    ``vnorm`` (see _ivf_assign_hof) to materialize it once per row instead
    of n_centroids times.

    The codebook is packed into THREE array literals (vectors, cids,
    norms) and scored via ``transform`` with index. Each literal is
    built by ``lit_doubles``/``lit_double_matrix`` — ONE py4j round
    trip per literal, parsed JVM-side. (The earlier ``F.lit(list)``
    form was NOT one round-trip: classic PySpark expands lists
    element-by-element over py4j — measured 60+ s of driver time per
    plan at 256×64 on the 1M-vector serving path.) Values are
    identical: the inner zip/fold is the same, and element_at on a
    literal array yields the same double the scalar literal did."""
    if vnorm is None:
        vnorm = l2_norm(vec_col)
    cb = lit_double_matrix([[float(x) for x in cvec] for _, cvec in cents])
    cids = lit_longs([int(cid) for cid, _ in cents])
    cnorms = lit_doubles([const_l2_norm(cvec) for _, cvec in cents])

    def _score(cv, i):
        prods = F.zip_with(vec_col, cv, lambda x, y: x.cast("double") * y)
        d = F.aggregate(prods, F.lit(0.0), lambda s, x: s + x)
        # try_divide: a zero-norm vector (or degenerate all-zero
        # centroid) scores NULL instead of aborting the scan — same
        # contract as cosine_similarity, same NULL the oracle computes
        return F.struct(
            F.try_divide(
                d, vnorm * F.element_at(cnorms, i + F.lit(1))
            ).alias("score"),
            F.element_at(cids, i + F.lit(1)).alias("cid"),
        )

    return F.transform(cb, _score)


def probe_cells(
    vec: Column, cents: list[tuple[int, list[float]]], nprobe: int
) -> Column:
    """``array<long>`` of the nprobe cells whose centroids score highest
    against ``vec`` (cosine DESC, ties → larger cid) — the query side of
    every IVF search. The codebook is a literal, so probing is a pure
    projection on the bit-exact HOF fold."""
    top = F.slice(F.sort_array(_cell_scores(vec, cents), asc=False), 1, nprobe)
    return F.transform(top, lambda s: s["cid"].cast("long"))


def _ivf_assign_hof(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment as a Catalyst HOF fold: the struct-max of
    ``_cell_scores``. It pads ragged rows and codebooks with NULLs, so it
    is the lane for any codebook the numpy kernel cannot take, and the
    reference the kernel is pinned against. |v| is staged as its own
    projection so the n_centroids scores share one norm per row
    (CollapseProject keeps a multiply-referenced alias staged rather than
    inlining it n_centroids times)."""
    staged = emb.withColumn("_vnorm", l2_norm(F.col(vec_col)))
    best = F.array_max(
        _cell_scores(F.col(vec_col), cents, vnorm=F.col("_vnorm"))
    )
    return staged.withColumn("cell", best["cid"].cast("long")).drop("_vnorm")


def _ivf_assign_arrow(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment as an Arrow-vectorized numpy kernel, for a dense
    codebook.

    Catalyst higher-order functions evaluate their lambdas per element
    (they sit outside whole-stage codegen), so the HOF lane pays an
    interpreted inner loop over n_rows × n_centroids × dim multiply-adds.
    This kernel moves each Arrow batch's vector column to numpy once and
    scores the whole batch with ONE matmul (``V @ C.T``) — the same
    O(n·m·d) work at SIMD/BLAS throughput, ~10× less CPU on the bulk
    build scan. Same plan shape: map-only, zero shuffle, the codebook a
    task-local constant.

    Semantics vs the HOF lane: per-row |v| scales all of that row's
    scores identically, so it cannot affect the argmax and is shared;
    per-centroid |c| uses ``const_l2_norm`` — the exact fold the HOF lane
    uses. The ONLY divergence is the matmul's blocked summation order vs
    the HOF's sequential fold (last-ulp on the dot). An argmax flip
    therefore needs two centroid scores within ~1 ulp of each other —
    tests/test_ann_arrow.py pins exact agreement with ``_ivf_assign_hof``
    (0 assignment flips at 100k vectors, bit-identical refined
    codebook). Ties and degenerate norms follow the HOF rules via
    ``_assign_cells_matmul``.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import LongType, StructField, StructType

    C, cids, cnorms, dim = _codebook_np(cents)
    # fresh StructType — StructType.add mutates in place, and df.schema
    # is cached on the DataFrame, so extending it directly would corrupt
    # the input's column list
    out_schema = StructType(
        list(emb.schema.fields) + [StructField("cell", LongType())]
    )

    def assign_batches(batches):
        for rb in batches:
            arr = rb.column(vec_col)
            # NULL or length-mismatched embeddings: the HOF lane's
            # zip_with pads with nulls, every product is NULL, every
            # score is NULL, and the all-NULL struct-max falls through
            # to the LARGEST cid. Pre-assign that outcome and score
            # only the well-formed rows. A NULL element reaches numpy as
            # NaN and takes the same cid through the NaN branch.
            lengths = pc.fill_null(pc.list_value_length(arr), 0).to_numpy(
                zero_copy_only=False
            )
            ok = pc.is_valid(arr).to_numpy(zero_copy_only=False) & (
                lengths == dim
            )
            cells = np.full(rb.num_rows, cids[0], dtype=np.int64)
            if ok.any():
                # flatten() skips NULL rows, whose lengths are 0 above
                vals = arr.flatten().to_numpy(zero_copy_only=False)
                starts = np.cumsum(lengths) - lengths
                v = vals[starts[ok, None] + np.arange(dim)].astype(np.float64)
                cells[ok] = _assign_cells_matmul(v, C, cids, cnorms)
            # the input columns pass through as Arrow data: a pandas
            # round trip would turn a NULL element into NaN
            yield rb.append_column("cell", pa.array(cells, pa.int64()))

    return emb.mapInArrow(assign_batches, schema=out_schema)


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF coarse quantization: each vector gets the cell of its nearest
    centroid (max cosine; ties → larger cid, the struct-max order), in a
    new ``cell`` column. Map-only — at 100 TB this is a scan-wide
    projection with zero shuffle, the property that makes IVF the scale
    path. ``cents`` defaults to the raw smallest-id seeds.

    The codebook picks the kernel, by the rule the Lloyd update applies
    to each iteration: a dense one (``_cents_dense``) runs the numpy
    matmul kernel, any other (ragged, None-bearing or empty) the HOF
    fold. Both return the same cells."""
    if cents is None:
        cents = _centroid_rows(emb, n_centroids, vec_col, id_col)
    if _cents_dense(cents):
        return _ivf_assign_arrow(emb, cents, vec_col)
    return _ivf_assign_hof(emb, cents, vec_col)


def ivf_cells(
    emb: DataFrame,
    n_centroids: int = 16,
    refine_iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """The IVF build: ``(codebook, emb with its cell column)``. The
    codebook is the smallest-id seeds after ``refine_iters`` Lloyd's
    passes (0 keeps the raw seeds)."""
    cents = lloyd_refine_codebook(
        emb, n_centroids, vec_col, id_col, iters=refine_iters
    )
    return cents, ivf_assign(emb, n_centroids, vec_col, id_col, cents=cents)


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 5,
    nprobe: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 1,
) -> DataFrame:
    """IVF-flat ANN search: probe the nprobe nearest cells, exact cosine
    rerank inside them, global top-k via orderBy().limit(k)
    (TakeOrderedAndProject — per-partition heaps, no global sort).
    Returns (vec_id, label, score, rnk). Recall is nprobe/n_centroids-
    tunable; nprobe = n_centroids degenerates to exact search.
    ``refine_iters`` Lloyd's passes sharpen the seed codebook (default 1);
    0 reproduces the raw smallest-id seeds."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_staged

    cents, assigned = ivf_cells(emb, n_centroids, refine_iters, vec_col, id_col)
    q = emb.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        probe_cells(F.col(vec_col), cents, nprobe).alias("_cells"),
    )
    # |v| staged once per candidate row, |q| once on the 1-row broadcast
    # side (bit-exact re-grouping — cosine_staged): the exact rerank was
    # re-folding the query norm per candidate
    cand = assigned.withColumn("_vn", l2_norm(F.col(vec_col))).join(
        F.broadcast(q), F.array_contains(F.col("_cells"), F.col("cell"))
    )
    scored = cand.select(
        id_col,
        "label",
        cosine_staged(
            F.col(vec_col), F.col("_qvec"), F.col("_vn"), F.col("_qn")
        ).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), id_col).limit(k)
    # Unpartitioned Window = single-partition sort — safe ONLY because it
    # runs on the k rows already reduced by TakeOrderedAndProject above.
    # Never lift this pattern onto an unreduced table.
    w = Window.orderBy(F.desc("score"), id_col)
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


def _i8_codes(assigned: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """The int8 codes table of an assigned frame: (id, cell, m, q), m the
    row's |v|∞ scale and q its int8 codes — no float vector."""
    from ..functions.vector import abs_max, quantize_i8

    m = abs_max(F.col(vec_col))
    return assigned.select(
        id_col, "cell", m.alias("m"), quantize_i8(F.col(vec_col), m).alias("q")
    )


def ivf_quantized_topk(
    emb: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
    nprobe: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 1,
) -> DataFrame:
    """IVF-pruned int8 retrieval — how a billion-vector index actually
    combines the two: the coarse codebook prunes the scan to nprobe cells,
    and within them scoring reads 4×-compressed int8 codes (exact integer
    dot + one double rescale). Neither piece alone scales: quantized
    brute-force still scans everything, un-quantized IVF still reads full
    floats. Returns (query_id, vec_id, rnk, approx_dot) for every query
    vector with id < query_max_id.

    This is ``ivf_i8_search`` over the codes table built in memory (the
    one ``save_ivf_i8_index`` writes), so a saved index answers exactly
    what a from-scratch build does. Scale shape: codebook refine is one
    agg; assignment + quantization are map-only scan projections; the
    per-query candidate set is output-sensitive (nprobe/n_centroids of
    the data); the final rank is WindowGroupLimit per query.
    """
    cents, assigned = ivf_cells(emb, n_centroids, refine_iters, vec_col, id_col)
    return ivf_i8_search(
        _i8_codes(assigned, vec_col, id_col),
        cents,
        emb.where(F.col(id_col) < query_max_id),
        k,
        nprobe,
        vec_col,
        id_col,
    )


# ---- persisted IVF × int8 index (S8 at serving scale) ----------------------
# The reference builds its Chroma index once at ingest and every query
# reads it (micro-infobot/app.py:110-131 persist_directory). The Spark-
# native equivalent: the codebook and the int8 codes are PARQUET TABLES
# written by save_ivf_i8_index and only READ at query time — no
# codebook refinement, no assignment, no quantization job per query.


def save_ivf_i8_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    refine_iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    shuffle_to_cells: bool = False,
) -> str:
    """Build + persist the IVF/int8 index: ``<path>/codebook`` (n_centroids
    rows) and ``<path>/codes`` (vec_id, m, q) PARTITIONED BY cell. The
    codes table stores NO float vectors — 4× smaller at rest; queries
    bring their own float vector and only ever scan the nprobe probed
    cell partitions (the equi-join on ``cell`` below is dynamic-
    partition-pruning eligible). Build cost: one Lloyd agg + one map-only
    assignment/quantization scan — the once-per-ingest S8 job."""
    cents, assigned = ivf_cells(emb, n_centroids, refine_iters, vec_col, id_col)
    codes = _i8_codes(assigned, vec_col, id_col)
    if shuffle_to_cells:
        # at-rest layout control: without this, every input task writes
        # a sliver into every cell directory (tasks × cells small files);
        # one shuffle by cell makes it one file per cell partition — the
        # layout a large index wants (default off: the extra Exchange is
        # not worth it at catalog/bench sizes, and the bytes written are
        # identical either way)
        codes = codes.repartition("cell")
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    spark = emb.sparkSession
    cb = spark.createDataFrame(
        [(cid, [float(x) for x in cvec]) for cid, cvec in cents],
        "cid long, cvec array<double>",
    )
    cb.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
    return path


def load_ivf_i8_index(spark, path: str):
    """Read a saved index → (codes DataFrame, codebook literal list).
    The codebook collect is n_centroids rows by construction; the codes
    table stays lazy/distributed."""
    codes = spark.read.parquet(f"{path}/codes")
    rows = spark.read.parquet(f"{path}/codebook").collect()
    cents = sorted((r["cid"], list(r["cvec"])) for r in rows)
    return codes, cents


def ivf_i8_search(
    codes: DataFrame,
    cents: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve top-k from an IVF/int8 codes table (loaded, or built in
    memory by ``ivf_quantized_topk``): quantize the incoming float query
    vectors (same deterministic expression as the build), score the
    literal codebook to pick nprobe cells (map-only), then equi-join the
    exploded probe list against the cell-partitioned codes — a broadcast
    hash join whose ``cell`` key prunes index partitions — and rank the
    integer dots per query (WindowGroupLimit)."""
    from pyspark.sql import Window

    from ..functions.vector import abs_max, int_dot, quantize_i8

    qs = (
        queries.select(
            F.col(id_col).alias("query_id"),
            abs_max(F.col(vec_col)).alias("qm"),
            quantize_i8(F.col(vec_col), abs_max(F.col(vec_col))).alias("qq"),
            probe_cells(F.col(vec_col), cents, nprobe).alias("_cells"),
        )
        # one row per (query, probed cell): the join below becomes a pure
        # equi join on the partition column instead of array_contains
        .withColumn("probe_cell", F.explode("_cells"))
        .drop("_cells")
    )
    cand = codes.join(
        F.broadcast(qs), F.col("cell") == F.col("probe_cell")
    ).where(F.col(id_col) != F.col("query_id"))
    scored = cand.withColumn(
        "approx_dot",
        int_dot(F.col("q"), F.col("qq")).cast("double")
        * (F.col("m") / 127.0)
        * (F.col("qm") / 127.0),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_dot"), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", id_col, "rnk", "approx_dot")
    )


# ---- DuckDB oracle mirrors -------------------------------------------------
def duck_plane_literal(plane: list[int]) -> str:
    return "[" + ", ".join(f"{float(x)!r}" for x in plane) + "]"


def duck_bucket(vec: str, planes: list[list[int]] | None = None) -> str:
    planes = planes or hyperplanes()
    terms = []
    for p, plane in enumerate(planes):
        dot = (
            f"list_aggregate(list_transform(list_zip({vec}, {duck_plane_literal(plane)}), "
            f"z -> CAST(z[1] AS DOUBLE) * z[2]), 'sum')"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {2**p} ELSE 0 END)")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


# ---- product quantization (PQ / ADC) ---------------------------------------
# The compression step beyond int8 scalar quantization: split each vector
# into M subspaces and store ONE small code per subspace — at
# M=8 × ksub=16 a 64-dim float32 vector (256 bytes) becomes 8 codes
# (8 bytes, 32× at rest; 4 bits/code would halve it again). This is the
# storage layout of every billion-vector serving system (IVF-PQ); the
# composition with IVF cell pruning mirrors ivf_quantized_topk above.
# Like the IVF codebook, PQ training is deterministic and engine-
# portable: per-subspace centroids are the sub-slices of the ksub
# smallest-id vectors (a production system would Lloyd-refine offline —
# the query-time plan is identical), so the DuckDB oracle replays
# training, encoding, and ADC scoring end-to-end from the same parquet.

# Config picked by measured recall@5 on the fixture embeddings (scan of
# m×ksub×iters in docs/ROUND4.md): m=8/ksub=16 (8 bytes/vec, 32×) gave
# 0.22; m=32/ksub=32 with one Lloyd pass gives 0.70 at 20 bytes/vec
# (12.8× vs float32) — the standard PQ accuracy lever is more, smaller
# subspaces, not more refinement (2 passes made it worse: overfit seeds).
PQ_M = 32          # subspaces
PQ_SUBDIM = 2      # dims per subspace (M * SUBDIM = 64, the fixture dim)
PQ_KSUB = 32       # centroids per subspace (5-bit codes)


def pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    ksub: int = PQ_KSUB,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks: codebooks[s][cid] = sub-slice s of seed
    vector cid. Bounded collect (ksub rows)."""
    seeds = _centroid_rows(emb, ksub, vec_col, id_col)
    return [
        [(cid, vec[s * subdim : (s + 1) * subdim]) for cid, vec in seeds]
        for s in range(m)
    ]


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    subdim: int = PQ_SUBDIM,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``codes ARRAY<INT>``: per subspace, the cid of the nearest
    (min L2²) centroid, ties to the smaller cid (struct-min order).
    Map-only — the codebooks are literals, so encoding is a pure
    projection inside whole-stage codegen: no join, no shuffle, no
    Python. At 100 TB this is the one full scan a PQ build needs."""
    from ..functions.vector import l2_sq

    # packed form, same recipe as _cell_scores: ONE matrix literal and
    # ONE transform lambda per subspace instead of ksub per-centroid
    # struct expressions. The naive per-centroid loop built m×ksub
    # l2_sq HOFs at ~0.3 s of py4j lambda construction EACH — 136 s of
    # driver time per encode at 8×16 (measured; encode runs twice per
    # pq_adc_topk). Values identical: same l2_sq fold against the same
    # doubles, array_min over the same (d, cid) structs.
    def _scorer(sub, cids):
        # closure factory: pyspark validates the lambda's arity by
        # inspection, so captures must come from an enclosing scope,
        # not default args
        return lambda cv, i: F.struct(
            l2_sq(sub, cv).alias("d"),
            F.element_at(cids, i + F.lit(1)).alias("cid"),
        )

    code_cols = []
    for s, cb in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), s * subdim + 1, subdim)
        cbm = lit_double_matrix([cvec for _cid, cvec in cb])
        # pinned ARRAY<INT>: a huge cid must not silently promote the
        # literal (and with it the stored codes column) to bigint
        cids = lit_ints([cid for cid, _ in cb])
        cands = F.transform(cbm, _scorer(sub, cids))
        code_cols.append(F.array_min(cands)["cid"])
    return emb.withColumn("codes", F.array(*code_cols))


def pq_adc_topk(
    emb: DataFrame,
    query_max_id: int = 10,
    k: int = 5,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    ksub: int = PQ_KSUB,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 1,
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k: the query keeps its
    float vector; each candidate is approximated by its PQ centroids, so
    approx L2² = Σ_s l2_sq(query_sub_s, centroid[code_s]). The per-
    subspace terms are summed in subspace order (left fold — matches the
    oracle's list ORDER BY sub). Returns (query_id, vec_id, rnk,
    approx_l2) for every query id < query_max_id, k rows each.

    Scale shape: this is the compressed-SCAN baseline (like
    sim_quantized_topk for int8) — the scan reads 8-byte codes instead
    of 256-byte vectors; compose with IVF cells for the pruned path. The
    centroid lookup is element_at on an M×ksub literal matrix — per-row
    projection work, zero shuffle beyond the final WindowGroupLimit."""
    from pyspark.sql import Window

    from ..functions.vector import l2_sq

    codebooks = pq_codebooks(emb, m, subdim, ksub, vec_col, id_col)
    if refine_iters > 0:
        codebooks = pq_refine_codebooks(
            emb, codebooks, subdim, vec_col, id_col, iters=refine_iters
        )
    encoded = pq_encode(emb, codebooks, subdim, vec_col).select(
        id_col, "codes"
    )
    qs = emb.where(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    # literal cid→centroid map per subspace, keyed by the stored code
    # (a map, not a positional array: refinement can drop empty cells,
    # after which cid ≠ list position)
    cb_maps = [
        F.map_from_arrays(
            # int keys (not lit_longs): the stored codes are ARRAY<INT>
            # and the map lookup should not need a cast
            lit_ints([cid for cid, _ in cb]),
            lit_double_matrix([cvec for _cid, cvec in cb]),
        )
        for cb in codebooks
    ]
    approx = None
    for s in range(m):
        qsub = F.slice(F.col("_qvec"), s * subdim + 1, subdim)
        cent = F.element_at(cb_maps[s], F.element_at(F.col("codes"), s + 1))
        term = l2_sq(qsub, cent)
        approx = term if approx is None else approx + term
    cand = encoded.join(F.broadcast(qs), F.col(id_col) != F.col("query_id"))
    scored = cand.withColumn("approx_l2", approx)
    w = Window.partitionBy("query_id").orderBy("approx_l2", F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", id_col, "rnk", "approx_l2")
    )


def pq_refine_codebooks(
    emb: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    subdim: int = PQ_SUBDIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 1,
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic Lloyd's refinement of the PQ codebooks (same role as
    lloyd_refine_codebook for IVF, different exactness recipe: PQ is an
    L2 quantizer, so centroid updates must preserve scale — the int8
    code-mean trick would warp the geometry. Instead the per-position
    mean is the emb_label_centroids fold: values sorted by vec_id,
    F.aggregate left fold ≡ DuckDB list_aggregate(list(v ORDER BY
    vec_id), 'sum'), then one exact division — bit-identical on any
    engine). Empty cells drop out deterministically (both engines see
    the same assignment, hence the same surviving cids).

    Scale: one encode (map-only literal projection) + one groupBy over
    (sub, cid, pos) keys per iteration — m·ksub·subdim groups, a bounded
    collect. At corpus scale swap the fold for plain F.avg and accept
    run-to-run float jitter; the fold is the oracle-exact shape."""
    m = len(codebooks)
    for _ in range(iters):
        enc = pq_encode(emb, codebooks, subdim, vec_col)
        ex = (
            enc.select(
                id_col, "codes", F.posexplode(vec_col).alias("p64", "v")
            )
            .select(
                id_col,
                F.expr(f"p64 div {subdim}").alias("sub"),
                (F.col("p64") % subdim).alias("spos"),
                F.col("codes"),
                F.col("v").cast("double").alias("v"),
            )
            .select(
                id_col,
                "sub",
                "spos",
                F.element_at(
                    F.col("codes"), (F.col("sub") + 1).cast("int")
                ).alias("cid"),
                "v",
            )
        )
        agg = ex.groupBy("sub", "cid", "spos").agg(
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(id_col, "v"))),
                        lambda s: s["v"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1))
            ).alias("c")
        )
        rows = agg.collect()
        by_cell: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault((r["sub"], r["cid"]), {})[r["spos"]] = r["c"]
        codebooks = [
            sorted(
                (cid, [vals[p] for p in range(subdim)])
                for (s, cid), vals in by_cell.items()
                if s == sub
            )
            for sub in range(m)
        ]
    return codebooks
