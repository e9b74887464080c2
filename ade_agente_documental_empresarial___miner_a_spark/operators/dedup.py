"""Deduplication operators — EXT surface (SURVEY §7 M4, BASELINE.json
north star: LLM-data-pipeline dedup designed for horizontal scale).

No reference counterpart (the reference has no dedup); these generalize its
J3 similarity join. All hashing is md5-based so the DuckDB oracle can
reproduce results exactly: MinHash uses the **lexicographic min of md5 hex
digests** (a uniform hash with a total order — engine-portable, no
murmur/xxhash divergence).

Scale design:
* exact dedup — one hash-groupBy, map-side combinable, no skew (md5 keys
  are uniform).
* MinHash/LSH — explode shingles → 1 groupBy(doc) for the signature →
  explode bands → 1 groupBy(band,key) self-join on bucket. Shuffle volume
  is O(docs × perms), independent of text size. Band buckets are uniform,
  so no skew salting needed; candidate verification is a narrow join.
* SimHash — explode words → one groupBy(doc) with 16 conditional sums.
* embedding-cosine — blocked N×M join; at scale replace the full cross
  join with the LSH bucketing in ``ann.py`` (same scoring expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity


def normalized_text(col):
    """Canonical text for exact dedup: lower + trim."""
    return F.trim(F.lower(col))


# Inputs at or below this estimated size take the latency-optimized
# execution mode in lsh_candidate_pairs (eagerly materialized bucket
# table); larger inputs keep the fully pipelined plan. See the comment at
# the decision site for the measured trade.
_SMALL_INPUT_BYTES = 4 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated size of the plan's output in bytes — read from
    the optimized logical plan's statistics, no job is run (for a parquet
    scan this is the file size). Used only to pick a latency-vs-throughput
    execution mode; never changes what is computed."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def spread(df: DataFrame, *by: str) -> DataFrame:
    """Repartition to the cluster's full parallelism before CPU-heavy
    map work. Parquet input splits are sized by bytes
    (``maxPartitionBytes``), so a few-MB documents table arrives as ONE
    partition — and per-row md5/shingle/UDF work then runs on a single
    core. An explicit numPartitions repartition (which AQE will not
    coalesce away, unlike repartition()) restores parallelism; the
    shuffle moves only the small input, not the exploded intermediate.

    When ``by`` columns are given, hash-partition on them instead of
    round-robin. Explode/Generate preserves the partitioning, so a
    downstream ``groupBy`` / ``Window.partitionBy`` whose keys include
    ``by`` needs NO second exchange — the big exploded intermediate
    never shuffles (HashPartitioning on a subset of the grouping keys
    satisfies ClusteredDistribution). Measured 2.9x on minhash
    signatures at sf0.1. Only safe when ``by`` is high-cardinality and
    unskewed (doc_id is unique — ideal); round-robin remains the
    default for arbitrary keys.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if by:
        return df.repartition(target, *[F.col(c) for c in by])
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: every row keeps its content hash, the
    group's canonical (min id) row, and a dup count for the group.
    """
    h = F.md5(normalized_text(F.col(text_col))).alias("text_hash")
    hashed = df.select(F.col(id_col), h)
    w = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
    )


def word_shingles(text_col, n: int = 2):
    """Distinct n-word shingles as an array column (empty if < n words).

    Wraps the split in a single-element array + transform so the split
    runs ONCE per row — referencing `F.split(...)` from every lambda
    element would re-split the text per shingle (O(words²) per doc).
    """
    def shingles_of(w):
        idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
        return F.when(
            F.size(w) >= n,
            F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", *[
                F.element_at(w, (i + j).cast("int")) for j in range(n)
            ]))),
        ).otherwise(F.array().cast("array<string>"))

    wrapped = F.transform(F.array(F.split(text_col, " ")), shingles_of)
    return F.element_at(wrapped, 1)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    shingle_n: int = 2,
) -> DataFrame:
    """One row per doc: minhash signature columns sig_0..sig_{p-1}.

    sig_p = min over shingles of md5('<p>:' || shingle) — lexicographic min
    of hex digests (uniform + portable). Docs with no shingles are dropped.
    """
    sh = spread(docs, id_col).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{p}:"), F.col("shingle")))).alias(f"sig_{p}")
        for p in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    materialize_buckets: bool | None = False,
) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs: docs sharing any band bucket.

    Returns (doc_a, doc_b, n_bands) with doc_a < doc_b.

    ``materialize_buckets``: False (default) keeps the fully pipelined
    plan; None picks by input size (see the decision-site comment) —
    used by ``lsh_verified_pairs``, whose downstream verify phase is what
    recoups the materialization latency on tiny inputs.
    ``materialize_buckets=None`` may run one eager Spark job when called.
    """
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(docs, text_col, id_col, num_perm, shingle_n)
    # unhex: the band key only needs EQUALITY of the concatenated md5
    # signatures, and unhex is bijective on hex digests — the join keys
    # shrink from rows_per_band x 32 hex chars to half that in binary
    # (guide §2.3 "narrower types": the band self-join's exchanges carry
    # the key twice, so this halves the dominant shuffle bytes; bucket
    # membership, and therefore every pair, is unchanged).
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.unhex(
                F.concat(*[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)])
            ).alias("key"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # Scale-adaptive materialization (guide §2.4 + r10-verdict #1): on TINY
    # inputs the verified leg is stage-wave-latency-bound — eagerly
    # materializing the (doc, band, key) bucket table (edge-bounded:
    # docs × bands rows) lets everything downstream plan against a
    # known-small local RDD and coalesce to single-task stages. On real
    # volume the same checkpoint LOSES: it serializes the DAG (the verify
    # side's shingle scan can no longer overlap the band join) and pays a
    # full materialization wave — measured at the 50k-doc leg 7.1 s
    # pipelined vs 8.9 s checkpointed, while the 5k-doc verified leg is
    # ~1.9 s pipelined vs ~1.7 s checkpointed (interleaved A/B). The mode
    # picks by the *input's* estimated bytes (no job), so production
    # volumes always pipeline; the candidates-only entry point defaults
    # to pipelined at every size
    # (without the verify phase the extra job is never recouped). Values
    # are identical either way — the checkpoint only cuts lineage.
    if materialize_buckets is None:
        materialize_buckets = _plan_size_bytes(docs) <= _SMALL_INPUT_BYTES
    if materialize_buckets:
        buckets = buckets.localCheckpoint(eager=True)
    a = buckets.alias("a")
    b = buckets.alias("b")
    # Deliberate sort-merge on the band self-join (guide §3.1). Left to
    # the planner, the bucket table's size estimate hovers around the
    # broadcast threshold and the join flips to BroadcastHashJoin — which
    # collects the WHOLE bucket table to the driver (a self-join has no
    # small side; at 500k docs that broadcast OOMs) and, worse, executes
    # the un-materialized 32-perm signature pipeline TWICE because only
    # the shuffle form gives two identical Exchanges for ReusedExchange
    # to collapse. Measured on the 50k-doc leg: broadcast mode 11.8 s vs
    # 5.1 s forced-SMJ end-to-end. SMJ over shuffled-hash because exact-
    # duplicate corpora put identical texts in ONE bucket key — SMJ
    # spills gracefully where a hash build would OOM.
    return (
        a.join(b.hint("merge"), ["band", "key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash16(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """16-bit SimHash over word md5s: bit j set iff the occurrence-weighted
    ±1 sum of word-hash bit j is positive. Returns (id, simhash, n_words).
    """
    words = spread(docs, id_col).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).withColumn("h", F.md5(F.col("w")))
    hexv = lambda pos: (  # noqa: E731 — hex char at 1-based pos → 0..15
        F.instr(F.lit("0123456789abcdef"), F.substring(F.col("h"), pos, 1)) - 1
    )
    aggs = []
    for j in range(16):
        hv = hexv(j // 4 + 1)
        bit = F.floor(hv / F.lit(2 ** (j % 4))) % 2
        aggs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s_{j}")
        )
    sums = words.groupBy(id_col).agg(*aggs)
    sim = None
    for j in range(16):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    n_words = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_words")
    )
    return sums.select(F.col(id_col), sim.cast("long").alias("simhash")).join(
        n_words, id_col
    )


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    shingle_n: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs within a blocking key — EXACT, via
    prefix filtering (Vernica/Carey/Li, "Efficient Parallel Set-Similarity
    Joins Using MapReduce", SIGMOD 2010 — the public textbook design).

    A naive exploded shingle self-join costs Σ df(shingle)² and is the
    classic 100 TB scale-killer (one stop-word bigram shared by 1M docs
    → 10¹² join rows). Prefix filtering keeps the result EXACT while
    joining only each doc's rarest shingles: under a global (df, shingle)
    order, two sets with Jaccard ≥ t must share a token inside their
    first |X| - ⌈t·|X|⌉ + 1 tokens, so the candidate join runs on those
    prefixes (rare tokens, tiny df) and the exact intersection count is
    then computed only for candidate pairs — the same output-sensitive
    verify as ``lsh_verified_pairs``, with recall 1.0.
    """
    sh = spread(docs, id_col).select(
        F.col(id_col),
        F.col(block_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    # global token order: document frequency asc, shingle asc (ties)
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    ranked = (
        sh.join(df_counts, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, id_col)
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = ranked.where(F.col("pos") <= prefix_len).select(
        id_col, block_col, "shingle"
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # same deliberate SMJ as the band self-join in lsh_candidate_pairs:
    # a self-join has no broadcastable side, and the shuffle form lets
    # ReusedExchange compute the prefix pipeline once
    cands = (
        a.join(b.hint("merge"), ["shingle", block_col])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    arrs = spread(docs, id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh_arr")
    )
    return _verify_jaccard(cands, arrs, id_col, threshold)


def _verify_jaccard(
    cands: DataFrame,
    shingle_arrays: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over candidate pairs only: O(candidates × shingles),
    independent of any shingle's corpus frequency.

    ``shingle_arrays`` is one row per doc with its DISTINCT shingles as
    an array column ``sh_arr`` (what ``word_shingles`` already emits).
    Since the arrays are distinct, ``size(array_intersect(a, b))`` IS the
    exact common-shingle count — so the verify joins candidates to the
    two un-exploded array rows and intersects per pair (guide §3.3:
    "explode before a join multiplies the shuffle; join first on the
    un-exploded key"). The r10 form exploded the shingle table and
    re-aggregated matched rows per pair: one extra corpus-wide explode,
    a (doc, shingle)-keyed shuffle join of pairs × shingles rows, and a
    pair-keyed count exchange — all gone (measured at the 50k-doc leg:
    7.5 → 6.0 s; 5k-doc leg 1.9 → 1.3 s; values bit-identical, the
    jaccard double divides the same integers).

    A size-bound prefilter (r10-verdict #5) drops pairs before the
    intersect: jaccard is maximized at n_common = min(n_a, n_b), where
    the final expression becomes min/max; evaluating that bound with the
    SAME double casts and division as the final filter (double division
    is monotone non-decreasing in n_common) proves every pruned pair
    would fail `jaccard >= t` — pruning is EXACT. (On the duplicate-
    dense bench corpus it cuts only ~0.5% of candidates — near-dup
    replicas have near-equal sizes — but it is free here and prunes
    hard on heterogeneous corpora.)

    The candidate side of the pair ⋈ arrays joins is always broadcast.
    Left to AQE, the r10 explode-form join was bimodal under concurrent
    memory pressure (the post-LSH pair list's size estimate sometimes
    tipped AQE into re-shuffling the whole shingle table — observed
    10–26 s swings on the 50k-doc leg). The candidate list is
    output-sensitive (near-dup pairs + band FPs), orders of magnitude
    below the corpus."""
    aa = shingle_arrays.select(
        F.col(id_col).alias("doc_a"),
        F.col("sh_arr").alias("arr_a"),
        F.size("sh_arr").alias("n_a"),
    )
    bb = shingle_arrays.select(
        F.col(id_col).alias("doc_b"),
        F.col("sh_arr").alias("arr_b"),
        F.size("sh_arr").alias("n_b"),
    )
    ub = F.least(F.col("n_a"), F.col("n_b")).cast("double") / F.greatest(
        F.col("n_a"), F.col("n_b")
    ).cast("double")
    return (
        F.broadcast(cands).join(aa, "doc_a")
        .join(bb, "doc_b")
        .where(ub >= threshold)
        .withColumn(
            "n_common",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (
                F.col("n_a").cast("long")
                + F.col("n_b").cast("long")
                - F.col("n_common")
            ).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def lsh_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """The scale path for near-dup detection: MinHash-LSH candidate
    generation followed by exact Jaccard verification of ONLY the
    candidates. Unlike ``jaccard_pairs`` (whose shingle self-join blows
    up as Σ df(shingle)² on frequent shingles), this joins shingles
    against the candidate pair list — work is O(candidates × shingles),
    independent of how common any shingle is. Returns
    (doc_a, doc_b, n_common, jaccard)."""
    cands = lsh_candidate_pairs(
        docs, text_col, id_col, num_perm, bands, shingle_n,
        materialize_buckets=None,  # size-adaptive — see decision site
    ).select("doc_a", "doc_b")
    arrs = spread(docs, id_col).select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh_arr")
    )
    return _verify_jaccard(cands, arrs, id_col, threshold)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-dup pairs into components: every node gets the min
    node id reachable from it (the canonical representative).

    Iterative min-label propagation — each round joins labels across
    edges and keeps the minimum, stopping at fixpoint. Converges in
    O(diameter) rounds; each round is one shuffle join, so at 100 TB
    this is `diameter × groupBy-cost` (dup components are shallow —
    near-dup graphs are cliques-ish, diameter 1-2 in practice).
    """
    # Materialize the pair list ONCE before the symmetric union: the two
    # union branches are separate references to the (usually expensive —
    # LSH + exact-verify) upstream plan, and Spark executes each branch
    # independently, so without this the whole candidate/verify pipeline
    # runs TWICE just to build the edge list (guide §2.4/§5 — measured
    # 18.0 s → ~10 s on the 50k-doc clusters leg, where one verify pass
    # costs ~8 s). The checkpoint stores only (a, b) id pairs — edge-
    # bounded, the same footprint the edges checkpoint below already
    # holds.
    base = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    edges = base.unionByName(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # iterative joins MUST truncate lineage each round (localCheckpoint),
    # or the plan doubles per iteration and the driver hangs re-planning
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        # labels only decrease, so "changed" is decidable inside the same
        # pass (nlbl < lbl) — no second join against the old labels; the
        # fixpoint probe is a limit(1) scan of the just-checkpointed rows
        new_lbl = F.least(F.col("lbl"), F.coalesce("nlbl", "lbl"))
        stepped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                new_lbl.alias("new_lbl"),
                (new_lbl < F.col("lbl")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        labels = stepped.select("node", F.col("new_lbl").alias("lbl"))
        if stepped.where(F.col("_chg")).limit(1).count() == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def embedding_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    sample_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs — the exact all-pairs BASELINE.

    Inherently N² in the input: only run it on a bounded slice. With
    ``sample_cap`` the id filter is pushed into the parquet scan on both
    join sides, so the quadratic term is over min(N, cap) rows no matter
    how large the corpus grows. The full-corpus scale path is hyperplane
    bucket blocking (``ann.with_buckets`` — see ``dedup_embedding_lsh``),
    which is this same scoring expression inside bucket-equi-join blocks.
    Returns (id_a, id_b, cos)."""
    from ..functions.vector import cosine_staged, l2_norm

    if sample_cap is not None:
        emb = emb.where(F.col(id_col) < sample_cap)
    # norms staged once per side below the pair join (bit-exact
    # re-grouping — functions/vector.cosine_staged): the N^2 scorer pays
    # one interpreted fold per pair instead of three
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            cosine_staged(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_para: int = 10,
) -> DataFrame:
    """CCNet-style PARAGRAPH-level dedup: drop repeated passages globally,
    keeping each passage's first occurrence (smallest (doc_id, para_pos)).

    The fixture corpus has no hard paragraph breaks, so passages are
    deterministic ``words_per_para``-word windows — the dedup shape
    (explode → hash → first-occurrence-per-hash → per-doc survival
    counts) is exactly the production operator; only the paragraphizer is
    synthetic. First-occurrence selection is a window over the passage
    hash: partitions are uniform (md5), so no reducer sees more than one
    passage's duplicates — linear at 100 TB, same scale shape as
    ``exact_dedup``. Returns (doc_id, n_paragraphs, n_kept, n_removed).
    """
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    n_paras = F.ceil(F.size(words) / F.lit(float(words_per_para))).cast("int")
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_paras - 1),
                lambda p: F.array_join(
                    F.slice(words, p * words_per_para + 1, words_per_para), " "
                ),
            )
        ).alias("para_pos", "para"),
    ).withColumn("h", F.md5(F.col("para")))
    w = Window.partitionBy("h").orderBy("doc_id", "para_pos")
    flagged = paras.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("int")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum("kept").cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).cast("long").alias("n_removed"),
    )


def substring_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """Exact duplicated-substring detection: for every doc, the fraction of
    its ``span_words``-word windows (every start offset, stride 1) that
    also occur verbatim in at least one OTHER document.

    This is the distributed approximation of suffix-array substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): a suffix array finds duplicated spans of
    ANY length on one machine; at cluster scale the standard re-expression
    is fixed-length rolling n-gram fingerprints — any duplicated run of
    >= span_words words is covered by at least one shared window, so the
    per-doc duplicated fraction is a faithful contamination signal.

    Scale shape (ONE md5-explode pass — the r8 rewrite; the original
    self-join form evaluated the explode on both join branches because
    one branch aggregates, so no ReusedExchange, and the window-hash
    CPU dominated at 2×): explode is map-side (one row per window),
    collapsed immediately to distinct ``(gram, doc_id)`` carriers with
    their window counts (partial agg before the shuffle, so the
    exchange moves carrier rows, not windows); the per-gram distinct-doc
    count is then a count(*) window over those carrier rows (rows per
    gram = docs containing it — already the distinct count); the final
    per-doc rollup sums window counts. Measured 2.6× faster at sf0.1
    (1.16 → 0.45 s), values identical (pinned vs the DuckDB oracle).
    Mega-duplicated grams (boilerplate) skew the gram key — partial
    aggregation collapses the explode before either gram shuffle, and
    the skewed window partition carries one row per *doc*, not per
    window.

    Returns (doc_id, n_spans, dup_spans, dup_frac) — docs shorter than
    ``span_words`` words have no windows and are absent (the caller
    left-joins if absence must be surfaced).
    """
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    grams = (
        spread(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), words.alias("w"))
        .where(F.size("w") >= span_words)
        .select(
            "doc_id",
            # unhex: the gram is a pure shuffle/window key (never output),
            # and unhex is bijective on md5 hex — 16-byte binary keys
            # instead of 32-char strings through BOTH gram exchanges
            # (guide §2.3; 110 MiB shuffled at the 10x leg before this)
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - (span_words - 1)),
                    lambda i: F.unhex(
                        F.md5(F.array_join(F.slice(F.col("w"), i, span_words), " "))
                    ),
                )
            ).alias("gram"),
        )
    )
    carriers = grams.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).alias("n_win")
    )
    # one carrier row per (gram, doc): count(*) per gram IS the
    # distinct-doc count the dup flag needs
    from ..functions.exactmath import halfup_mean

    nd = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    dup_sql = "sum(CASE WHEN nd >= 2 THEN n_win ELSE 0 END)"
    dup_win = F.sum(
        F.when(F.col("nd") >= 2, F.col("n_win")).otherwise(F.lit(0))
    )
    # dup_frac is a round(sum/count) mean -> integer-exact HALF_UP
    # (ROUND8 §12: round(double, 9) splits at half boundaries; at
    # n_spans = 5120 with an adversarial dup count the exact rational
    # lands within an ulp of a half — tests/test_half_boundary.py)
    return (
        carriers.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("n_win").alias("n_spans"),
            dup_win.alias("dup_spans"),
            halfup_mean(dup_sql, "sum(n_win)", 9, integral_sum=True).alias(
                "dup_frac"
            ),
        )
    )


def incremental_dedup(
    new_batch: DataFrame,
    historic: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingestion dedup: classify each NEW document against the
    already-ingested corpus without re-deduplicating the corpus itself.

    status = 'dup_historic'  — content hash already exists in `historic`
             'dup_in_batch'  — first seen in this batch, but an earlier
                               (smaller id) row of the SAME batch has it
             'new'           — genuinely novel content

    Scale shape: the historic side reduces to DISTINCT content hashes —
    at 100 TB that set is far too large to broadcast, so the membership
    probe is a shuffle LEFT join on md5-uniform keys (no skew). Spark's
    runtime bloom-filter injection (spark.sql.optimizer.runtime.
    bloomFilter.enabled) turns it into a pre-filtered probe when the new
    batch is small relative to history — the common nightly-ingest case.
    Within-batch ordering is a window over the same hash key, so both
    steps share one partitioning.
    """
    h = F.md5(normalized_text(F.col(text_col)))
    hist_hashes = historic.select(h.alias("text_hash")).distinct()
    batch = new_batch.select(F.col(id_col).alias("doc_id"), h.alias("text_hash"))
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        batch.join(
            hist_hashes.withColumn("in_hist", F.lit(1)), "text_hash", "left"
        )
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "text_hash",
            F.when(F.col("in_hist").isNotNull(), F.lit("dup_historic"))
            .when(F.col("rk") > 1, F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )
