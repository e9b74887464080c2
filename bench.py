"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is the full job (scan → compute → collect/count), timed after a
session warm-up job so JVM startup isn't billed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ade_agente_documental_empresarial___miner_a_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # reference surface
    "t2_section_assign",      # sectioning window forward-fill
    "t3_chunk_pipeline",      # chunker through the pandas_udf
    "t5_embed_histogram",     # embedding hash core (JVM-side)
    "k1_topk_search",         # 1xN cosine top-k
    "e2_hierarchical_search", # two-phase hierarchical retrieval
    # EXT LLM-pipeline
    "sim_knn_bruteforce",     # NxM knn join
    "sim_lsh_bucketed",       # LSH ANN path
    "dedup_minhash_lsh",      # MinHash band join
    "dedup_lsh_verified",     # LSH candidates + exact jaccard verify (scale path)
    "text_quality_score",     # map-only text analytics
    # relational / streaming
    "rel_q1_pricing",
    "rel_q5_region_revenue",
    "rel_window_running",
    "rel_asof_join",           # point-in-time join (union + forward-fill)
    "rel_range_join",          # bucketized trailing-window join
    "stream_tumbling_1h",
    # ingest + curation stages (round 3: regression-tracked like the rest)
    "e1_ingest_chunks",        # binary scan -> extract -> sections -> chunks
    "cur_repetition_signals",  # Gopher repetition rules (explode+groupBy)
    "cur_decontaminate",       # benchmark-overlap scrub (broadcast side)
    # round-4 additions (tracked from their first round; not part of the
    # 16-query round-over-round comparable subset)
    "dedup_substring",         # rolling 8-word-window span dedup
    "text_trigram_lm",         # corpus-trained trigram LM scoring
    "graph_pagerank",          # 3 unrolled power iterations on the trade graph
]

# The 16-query round-over-round comparable subset: the legs present since
# BENCH_r01 (whose total, 17.49 s at sf0.1, is the recorded engine
# baseline the judge gates at <=2x). Emitted in the JSON as "subset16" so
# the comparable number is first-class in every recording instead of a
# hand sum over "queries". Reproduces 17.492 on BENCH_r01 and 16.688 on
# BENCH_r05 exactly.
SUBSET16 = [
    "t2_section_assign", "t3_chunk_pipeline", "t5_embed_histogram",
    "k1_topk_search", "e2_hierarchical_search", "sim_knn_bruteforce",
    "sim_lsh_bucketed", "dedup_minhash_lsh", "dedup_lsh_verified",
    "text_quality_score", "rel_q1_pricing", "rel_q5_region_revenue",
    "rel_window_running", "rel_asof_join", "rel_range_join",
    "stream_tumbling_1h",
]
_SUBSET16_BASELINE_R01 = 17.492


TPCH = [
    # the full 22-query sweep (closed in round 4): a recognizable
    # power-run aggregate over the catalog's relational battery,
    # recorded per-round as its own JSON section. All 22 are
    # oracle-paired and driver-green; this section tracks their
    # steady-state latency at sf0.1 so a plan regression in any one
    # of them shows up as a number, not just a plan diff.
    "rel_q1_pricing", "rel_q2_min_price", "rel_q3_shipping",
    "rel_q4_priority", "rel_q5_region_revenue", "rel_q6_revenue_delta",
    "rel_q7_volume", "rel_q8_market_share", "rel_q9_profit",
    "rel_q10_returned", "rel_q11_important_parts",
    "rel_q12_priority_class", "rel_q13_custdist", "rel_q14_promo_share",
    "rel_q15_top_supplier", "rel_q16_supplier_cnt", "rel_q17_small_qty",
    "rel_q18_large_orders", "rel_q19_disjunctive",
    "rel_q20_excess_shippers", "rel_q21_waiting", "rel_q22_inactive",
]

SCALE_FACTOR = 10  # replicas per doc in the synthetic scale corpus
EMB_SCALE_FACTOR = 50  # replicas per vector (100k vectors at sf0.1)


def ensure_scale_corpus(spark, sf_dir: str) -> str:
    """Deterministic 10× duplicate-dense documents corpus (SCALING.md):
    each doc replicated SCALE_FACTOR times with a per-replica text
    perturbation, so each replica family is a true near-dup cluster.
    Written once per sf_dir to /tmp and reused across rounds."""
    from pyspark.sql import functions as F

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = f"/tmp/ade_bench_scale{SCALE_FACTOR}_{tag}"
    # all artifacts must exist (events/embeddings/index joined the corpus
    # later — a docs-only cache from an earlier run must be topped up)
    if all(
        os.path.exists(os.path.join(out, t, "_SUCCESS"))
        for t in (
            "documents.parquet",
            "events.parquet",
            "embeddings.parquet",
            os.path.join("ivf_i8_index", "codes"),
        )
    ):
        return out
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    replicas = spark.range(SCALE_FACTOR).select(F.col("id").alias("r"))
    new_text = F.concat(
        F.col("text"),
        F.lit(" replica marker "),
        F.md5(F.concat_ws(":", "doc_id", "r")),
    )
    scaled = (
        docs.crossJoin(replicas)
        .select(
            (F.col("doc_id") * SCALE_FACTOR + F.col("r")).alias("doc_id"),
            new_text.alias("text"),
            "lang",
            "source",
            # n_chars must agree with length(text) (suffix = 16 + 32 chars)
            F.length(new_text).cast("long").alias("n_chars"),
        )
    )
    scaled.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    # 10x events too (6M rows at sf0.1): replica r offsets event_id into
    # a disjoint id space and shifts ts by r seconds — same users, same
    # hours, 10x density, fully deterministic. Gives the window/range
    # scale legs a real fact table to chew on.
    from ade_agente_documental_empresarial___miner_a_spark.plans.catalog import (
        events_table,
    )

    ev = events_table(spark, sf_dir)
    scaled_ev = (
        ev.crossJoin(replicas)
        .select(
            (F.col("event_id") * SCALE_FACTOR + F.col("r")).alias(
                "event_id"
            ),
            (
                F.col("ts")
                + F.make_dt_interval(
                    F.lit(0), F.lit(0), F.lit(0), F.col("r").cast("double")
                )
            ).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    scaled_ev.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    # 50x embeddings (100k vectors at sf0.1) for the ANN scale leg:
    # replica r reflects vec_id into a disjoint id space and adds a
    # deterministic per-component perturbation (murmur3 of (vec_id, r,
    # pos), scaled to ±0.1) so replicas are near- but not exact
    # duplicates — cells stay populated, scoring isn't degenerate.
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb_replicas = spark.range(EMB_SCALE_FACTOR).select(
        F.col("id").alias("r")
    )
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + (
            F.pmod(F.hash(F.col("vec_id"), F.col("r"), i), F.lit(1000))
            - F.lit(500)
        ).cast("float")
        / F.lit(5000.0),
    )
    (
        emb.crossJoin(emb_replicas)
        .select(
            (F.col("vec_id") * EMB_SCALE_FACTOR + F.col("r")).alias(
                "vec_id"
            ),
            # cast back to the fixture's array<float> so the scale corpus
            # exercises the same schema (and parquet size) as production
            perturbed.cast("array<float>").alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )
    # persisted IVF/int8 index over the 100k vectors: building it is
    # corpus prep (the once-per-ingest S8 job, measured separately by
    # sim_ivf_100k's full path) so the serving leg times serving
    from ade_agente_documental_empresarial___miner_a_spark.operators.ann import (
        save_ivf_i8_index,
    )

    save_ivf_i8_index(
        spark.read.parquet(os.path.join(out, "embeddings.parquet")),
        os.path.join(out, "ivf_i8_index"),
        n_centroids=64,
        refine_iters=1,
        # arrow kernel: ~5x faster build, index bit-identical to the
        # HOF path (agreement pinned in tests/test_ann_arrow.py)
        impl="arrow",
    )
    return out


def scale10x_queries(qs):
    """The per-round re-measurement of SCALING.md's claims: sectioning,
    chunking, and near-dup clustering at 10× the bench SF. Clusters use
    the sharper 32-perm/8-band LSH config (the production setting SCALING
    calls for at this density) — the catalog's 8/4 stays oracle-cheap."""
    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        connected_components,
        lsh_verified_pairs,
    )

    def clusters_sharp(spark, sf_dir):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        pairs = lsh_verified_pairs(docs, num_perm=32, bands=8, threshold=0.3)
        return connected_components(pairs)

    def lsh_verified_sharp(spark, sf_dir):
        # the designated dedup scale path alone (candidates + exact
        # verify, no clustering) at 10x docs — VERDICT r3 asked for this
        # to be tracked at 50k docs since it is the scale claim
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return lsh_verified_pairs(docs, num_perm=32, bands=8, threshold=0.3)

    from ade_agente_documental_empresarial___miner_a_spark.operators.dedup import (
        substring_duplicate_spans,
    )

    def substring_scale(spark, sf_dir):
        # substring-span dedup at 10x docs (50k at sf0.1): the replica
        # corpus is duplicate-dense, so the gram join carries real
        # multi-doc grams, not a degenerate all-unique fast path
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        return substring_duplicate_spans(docs)

    def pagerank_1m(spark, sf_dir):
        # iterative-kernel scale leg (VERDICT r4 #8): the catalog's
        # pagerank runs 3 unrolled iterations on the 25-node nation
        # graph; this measures the reusable checkpointed kernel
        # (operators/graph.py) on a deterministic 1M-edge / 100k-node
        # graph — 5 iterations, localCheckpoint every 2 (the same
        # lineage-truncation pattern dedup_clusters evidences at 50k
        # docs). Only node-bounded data moves per iteration (ranks to
        # the src-partitioned cached edges; map-side-combined
        # contribution sums by dst); no driver materialization.
        from ade_agente_documental_empresarial___miner_a_spark.operators.graph import (
            pagerank,
            synthetic_edge_graph,
        )

        edges = synthetic_edge_graph(
            spark, n_edges=1_000_000, n_nodes=100_000
        )
        return pagerank(edges, iters=5, checkpoint_every=2)

    def ivf_100k_serving(spark, sf_dir):
        # the serving-only half of the story: the index was built during
        # corpus prep (ensure_scale_corpus; the build cost is
        # sim_ivf_100k's number) — queries scan only the nprobe probed
        # cell partitions of the codes table, verified DPP-pruned in the
        # executed plan (dynamicpruningexpression on the cell partition
        # column; steady-state ~1.4 s at 100k vectors).
        from pyspark.sql import functions as F

        from ade_agente_documental_empresarial___miner_a_spark.operators.ann import (
            ivf_i8_search,
            load_ivf_i8_index,
        )

        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        codes, cents = load_ivf_i8_index(
            spark, os.path.join(sf_dir, "ivf_i8_index")
        )
        queries = emb.where(F.col("vec_id") == 7)
        return ivf_i8_search(codes, cents, queries, k=10, nprobe=8)

    def ivf_100k_serving_b32(spark, sf_dir):
        # r11 (r10-verdict #6): BATCH serving — 32 deterministic probe
        # queries (vec_id ≡ 7 mod 3125 over the 100k ids) answered in
        # ONE job over the same loaded index. ivf_i8_search is already
        # multi-query (per-query window rank; probe list broadcast; the
        # codes scan DPP-prunes to the UNION of probed cells), so the
        # fixed job cost amortizes: measured 1.43 s single vs 1.92 s
        # for 32 → 0.06 s/query (24×). Additive entry; the single-query
        # leg above is unchanged.
        from pyspark.sql import functions as F

        from ade_agente_documental_empresarial___miner_a_spark.operators.ann import (
            ivf_i8_search,
            load_ivf_i8_index,
        )

        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        codes, cents = load_ivf_i8_index(
            spark, os.path.join(sf_dir, "ivf_i8_index")
        )
        queries = emb.where(F.col("vec_id") % 3125 == 7)
        return ivf_i8_search(codes, cents, queries, k=10, nprobe=8)

    def ivf_100k(spark, sf_dir):
        # ANN at 50x vectors (100k at sf0.1): the full IVF path each
        # run — Lloyd-refined 64-cell codebook, map-only assignment,
        # nprobe=8 probe, exact cosine rerank inside the probed cells,
        # TakeOrderedAndProject top-k. The codebook build dominates
        # (the once-per-ingest S8 job); sim_ivf_persisted is the
        # serving-only variant. Since round 8 the DEFAULT build rides
        # the Arrow-matmul assignment kernel (~4x less build CPU,
        # results pinned identical to the HOF fold —
        # tests/test_ann_arrow.py), so this leg times the production
        # default; sim_ivf_100k_hof keeps the old lane measured.
        from ade_agente_documental_empresarial___miner_a_spark.operators.ann import (
            ivf_topk,
        )

        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        return ivf_topk(emb, query_id=7, k=10, nprobe=8, n_centroids=64)

    def ivf_100k_hof(spark, sf_dir):
        # the same full IVF build on the Catalyst-HOF assignment fold
        # (the bit-exact opt-out lane): HOF lambdas evaluate
        # per-element outside codegen, so the bulk assignment scans —
        # the dominant S8 build cost — pay an interpreted inner loop.
        # Kept measured as the arrow lane's comparison baseline.
        from ade_agente_documental_empresarial___miner_a_spark.operators.ann import (
            ivf_topk,
        )

        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        )
        return ivf_topk(
            emb, query_id=7, k=10, nprobe=8, n_centroids=64, impl="hof"
        )

    return {
        "t2_section_assign": qs["t2_section_assign"],
        "t3_chunk_pipeline": qs["t3_chunk_pipeline"],
        "dedup_lsh_verified_sharp": lsh_verified_sharp,
        "dedup_clusters_sharp": clusters_sharp,
        "dedup_substring": substring_scale,
        # value-RANGE window at 10x events (6M rows at sf0.1): the
        # window scale leg — one user_id shuffle, two-pointer frames
        "rel_range_frame": qs["rel_range_frame"],
        "graph_pagerank_1m": pagerank_1m,
        "sim_ivf_100k": ivf_100k,
        "sim_ivf_100k_hof": ivf_100k_hof,
        "sim_ivf_100k_serving": ivf_100k_serving,
        "sim_ivf_100k_serving_b32": ivf_100k_serving_b32,
    }


CHAT_TURNS = 8


def _adaptive_best(sample, cap: int = 4, band: float = 1.25) -> float:
    """Best-of-adaptive for the chat legs: call ``sample()`` (returns one
    wall-clock measurement) until the two fastest confirm each other
    within ``band``, cap ``cap`` — the same discipline the headline loop
    uses. The chat legs are the most job-latency-bound (and therefore
    burst-sensitive) numbers in the recording; fixed best-of-2 let a
    single host burst set chat_turn records 30% apart across two
    otherwise-quiet runs."""
    times: list[float] = []
    for _ in range(cap):
        times.append(sample())
        two = sorted(times)[:2]
        if len(two) == 2 and two[1] <= two[0] * band:
            break
    return min(times)


def bench_chat_turns(spark, sf_dir: str) -> float:
    """E2 chat loop end-to-end — the reference's primary entry point
    (micro-infobot/app.py:214-283): retrieve (K1) → context fold (T6) →
    prompt assembly with history replay (T7) → stub LLM → history append
    (S6), over CHAT_TURNS turns against a PRE-BUILT chunks index (the
    reference chats against a persisted Chroma index; the one-time
    ingest is not chat latency). Measures the engine DEFAULT: the
    bounded 50-turn replay window (cap applied before collect — the
    100 TB-safe path; full replay is the opt-in parity mode). At 8
    turns the replayed content is identical to full replay, so the
    number stays round-over-round comparable. Fresh history per
    repetition so replay length is identical across reps; best-of-2
    like the rest of the headline."""
    import shutil
    import tempfile

    from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
        answer_question,
    )
    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
        persist_serving_index,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/ade_bench_chat_idx_{tag}"
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        build_chunks(docs).write.mode("overwrite").parquet(idx)
    # the serving index is memory-resident (the reference's Chroma
    # collection lives in RAM once loaded): persist + materialize before
    # the timed loop so per-turn retrieval measures the query, not a
    # repeated cold parquet scan of the same static index — with
    # DATA-SIZED partitions (persist_serving_index), not 32 near-empty
    # scheduler-overhead tasks per turn
    chunks = persist_serving_index(spark.read.parquet(idx))

    def sample() -> float:
        hist_dir = tempfile.mkdtemp(prefix="ade_chat_hist_")
        hist = os.path.join(hist_dir, "hist")
        try:
            t0 = time.time()
            for i in range(CHAT_TURNS):
                answer_question(
                    spark,
                    chunks,
                    "bench-user",
                    f"spark vector join query number {i}",
                    history_path=hist,
                )
            return time.time() - t0
        finally:
            shutil.rmtree(hist_dir, ignore_errors=True)

    best = _adaptive_best(sample)
    chunks.unpersist()
    return round(best, 3)


def bench_chat_session(spark, sf_dir: str) -> float:
    """Same CHAT_TURNS-turn conversation through the ChatSession
    serving mode: the replay buffer and turn counter live in RAM (the
    reference's actual runtime shape — st.session_state.memory is
    RAM-resident and Mongo is write-only per turn, app.py:43-44/258),
    so a turn costs one retrieval job + one append write instead of the
    stateless loop's four jobs. Same questions, same persisted rows —
    the delta vs `chat_turn` is pure serving-tier overhead."""
    import shutil
    import tempfile

    from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
        ChatSession,
    )
    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
        persist_serving_index,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/ade_bench_chat_idx_{tag}"
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        build_chunks(docs).write.mode("overwrite").parquet(idx)
    chunks = persist_serving_index(spark.read.parquet(idx))

    def sample() -> float:
        hist_dir = tempfile.mkdtemp(prefix="ade_chat_sess_")
        hist = os.path.join(hist_dir, "hist")
        try:
            t0 = time.time()
            sess = ChatSession(
                spark, chunks, "bench-user", history_path=hist
            )
            for i in range(CHAT_TURNS):
                sess.ask(f"spark vector join query number {i}")
            return time.time() - t0
        finally:
            shutil.rmtree(hist_dir, ignore_errors=True)

    best = _adaptive_best(sample)
    chunks.unpersist()
    return round(best, 3)


def bench_chat_serving_ram(spark, sf_dir: str) -> float:
    """The same CHAT_TURNS-turn conversation through ChatSession's RAM
    serving tier (operators/serving.RamServingIndex): retrieval answers
    driver-side from the bounded in-RAM index with BIT-identical hits
    (pinned by tests/test_serving_ram.py), so a turn runs ZERO Spark
    jobs — the reference's actual per-turn profile (client-side Chroma
    query app.py:223 + client-side insert_one app.py:258). The index
    build (one bounded Spark job) is excluded like the other legs'
    persist/materialize steps; the delta vs `chat_session` is exactly
    the per-turn Spark plan-build + scheduling cost the RAM tier
    removes."""
    import shutil
    import tempfile

    from ade_agente_documental_empresarial___miner_a_spark.operators.serving import (
        RamServingIndex,
    )
    from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
        ChatSession,
    )
    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/ade_bench_chat_idx_{tag}"
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        build_chunks(docs).write.mode("overwrite").parquet(idx)
    ram = RamServingIndex.from_frame(spark.read.parquet(idx))

    def sample() -> float:
        hist_dir = tempfile.mkdtemp(prefix="ade_chat_ram_")
        hist = os.path.join(hist_dir, "hist")
        try:
            t0 = time.time()
            sess = ChatSession(spark, ram, "bench-user", history_path=hist)
            for i in range(CHAT_TURNS):
                sess.ask(f"spark vector join query number {i}")
            return time.time() - t0
        finally:
            shutil.rmtree(hist_dir, ignore_errors=True)

    best = _adaptive_best(sample)
    return round(best, 3)


def bench_serving_hierarchy(spark, sf_dir: str) -> float:
    """The E2' hierarchical composite served per turn, both tiers on
    identical data: the Spark DataFrame plan (e2_hierarchical_search,
    the oracle-certified entry) vs RamServingIndex.search_hierarchy
    (bit-identical rows, pinned by tests/test_serving_ram.py). Records
    the RAM tier's per-query seconds over 100 queries; the Spark plan's
    per-turn cost is already visible in the headline section. The r8
    round log records the measured gap (~850 ms job vs ~0.35 ms RAM at
    sf0.1) — this leg keeps the RAM half regression-tracked."""
    from ade_agente_documental_empresarial___miner_a_spark.operators.serving import (
        RamServingIndex,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ram = RamServingIndex.from_frame(
        emb, vec_col="embedding", id_col="vec_id", text_col="label",
        label_col="label",
    )
    qvec = [
        float(x)
        for x in emb.where("vec_id = 6").collect()[0]["embedding"]
    ]
    ram.search_hierarchy(qvec)  # warm
    t0 = time.time()
    for _ in range(100):
        ram.search_hierarchy(qvec, phase1_k=3, per_label_k=2)
    return round((time.time() - t0) / 100, 6)


def bench_serving_hnsw(spark, sf_dir: str) -> float:
    """HNSW serving tier (operators/hnsw.py — the reference's actual
    hnswlib-class index, deterministic rebuild per recording, ~2-3 s at
    sf0.1): per-query seconds over 100 graph walks at ef=200. Recall is
    pinned by tests/test_hnsw.py; this leg tracks walk latency. The
    1M-decade measurement (docs/ROUND8.md §9b) REFUTED the extrapolated
    crossover for this pure-Python build at m=8: exact scans stay the
    serving default at every measured shard size; this index is the
    algorithmic-parity artifact with measured recall at <=100k shards."""
    from ade_agente_documental_empresarial___miner_a_spark.operators.hnsw import (
        HnswIndex,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    idx = HnswIndex.from_frame(emb)
    qvec = [
        float(x)
        for x in emb.where("vec_id = 6").collect()[0]["embedding"]
    ]
    idx.search(qvec, k=10, ef=200)  # warm
    t0 = time.time()
    for _ in range(100):
        idx.search(qvec, k=10, ef=200)
    return round((time.time() - t0) / 100, 6)


def bench_chat_deep_history(spark, sf_dir: str) -> float:
    """Serving latency with a DEEP stored history: 500 turns are
    pre-seeded into the store (one append batch, not timed), then 4
    bounded-window session turns run against it. The bounded default
    (DEFAULT_LAST_N_TURNS=50, cap applied before collect) makes this
    number ≈ chat_session's per-turn cost regardless of stored depth —
    the evidence that turn latency is O(window), not O(history), which
    is what keeps the loop alive at 100× chat volume. Full replay
    (last_n_turns=None) would grow without bound here by design."""
    import shutil
    import tempfile

    from ade_agente_documental_empresarial___miner_a_spark.plans.chat import (
        ChatSession,
    )
    from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (
        build_chunks,
        persist_serving_index,
    )
    from ade_agente_documental_empresarial___miner_a_spark.sources.sinks import (
        append_chat_history,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    idx = f"/tmp/ade_bench_chat_idx_{tag}"
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        build_chunks(docs).write.mode("overwrite").parquet(idx)
    chunks = persist_serving_index(spark.read.parquet(idx))

    def sample() -> float:
        hist_dir = tempfile.mkdtemp(prefix="ade_chat_deep_")
        hist = os.path.join(hist_dir, "hist")
        try:
            append_chat_history(
                spark,
                [("bench-user", f"seed question {i}", f"seed answer {i}",
                  None, 5, 3) for i in range(500)],
                hist,
            )
            sess = ChatSession(
                spark, chunks, "bench-user", history_path=hist
            )
            t0 = time.time()
            for i in range(4):
                sess.ask(f"spark vector join query number {i}")
            return time.time() - t0
        finally:
            shutil.rmtree(hist_dir, ignore_errors=True)

    best = _adaptive_best(sample)
    chunks.unpersist()
    return round(best, 3)


def bench_stream_live_10x(spark, scale_dir: str, warm: bool = True) -> float:
    """Live Structured Streaming scale leg: the tumbling-window metric
    (stream_tumbling_1h's expressions, certified by the batch oracle
    gate) executed through the REAL stream machinery at 10× events —
    parquet file source over the 6M-row scale corpus, 4 micro-batches
    (maxFilesPerTrigger=8 over 32 files), watermarked state store,
    availableNow trigger, noop sink. What this measures that the batch
    mirror can't: micro-batch scheduling + state-store checkpointing
    throughput, and that state stays bounded while input scales — the
    2h watermark evicts closed windows between batches, so state rows
    track windows×event_types (~thousands), not input rows (millions).
    Single timed pass: availableNow drains the whole corpus, and a
    fresh checkpoint per rep would make a best-of-2 identical work.
    An UNRECORDED warm pass over a 2k-row slice runs first (same
    rationale as the sentinel/pandas-UDF warm-ups: the first streaming
    query of a session pays one-time engine init — state-store
    provider, incremental planner, ~6-7 s — which r6/r7 recordings
    absorbed into this leg as apparent drift; steady state re-measured
    at 3.8-4.2 s across reps, docs/ROUND8.md)."""
    import shutil
    import tempfile

    from ade_agente_documental_empresarial___miner_a_spark.streaming.chat_stream import (
        tumbling_metrics,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    src_path = os.path.join(scale_dir, "events.parquet")
    if warm:
        # tiny directory source (FileStreamSource rejects single files):
        # 2k rows sliced from the scale corpus, streamed once, discarded
        warm_root = tempfile.mkdtemp(prefix="ade_stream10x_warm_")
        warm_src = os.path.join(warm_root, "events.parquet")
        try:
            (
                spark.read.parquet(src_path)
                .limit(2000)
                .coalesce(1)
                .write.parquet(warm_src)
            )
            (
                tumbling_metrics(
                    spark.readStream.schema(schema).parquet(warm_src)
                )
                .writeStream.format("noop")
                .outputMode("update")
                .option(
                    "checkpointLocation",
                    os.path.join(warm_root, "ckpt"),
                )
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        finally:
            shutil.rmtree(warm_root, ignore_errors=True)

    from ade_agente_documental_empresarial___miner_a_spark.streaming.chat_stream import (
        bounded_state_partitions,
    )

    ckpt = tempfile.mkdtemp(prefix="ade_stream10x_ck_")
    try:
        t0 = time.time()
        # State-key bound for THIS corpus, from its generator contract:
        # events span 30 days → 720 one-hour tumbling windows × 5 event
        # types = 3600 state keys (state is watermark-bounded and does
        # not grow with the 1M input rows). bounded_state_partitions
        # derives the state-store partition count from that bound
        # (clamped to the session's cores-scaled shuffle partitions, so
        # the low-core PERF runs keep their own ceiling) instead of
        # paying a fixed per-partition commit for ~dozens of stores that
        # would each hold a handful of rows — r10-verdict item 2.
        with bounded_state_partitions(spark, expected_keys=720 * 5):
            q = (
                tumbling_metrics(
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 8)
                    .parquet(src_path)
                )
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        dt = round(time.time() - t0, 3)
        n_batches = len(q.recentProgress)
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        print(
            f"# scale10x stream_live_tumbling: {dt:.3f}s "
            f"({rows} rows, {n_batches} micro-batches)",
            file=sys.stderr,
        )
        return dt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    spark = get_spark("ade-bench")

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs = mod.queries()

    # warm-up: JVM codegen + the Python/Arrow worker pool (not billed —
    # queries should measure steady-state, not worker cold start)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm(s):
        return s

    spark.range(32, numPartitions=32).select(_warm("id")).collect()

    # Noise sentinel: a FIXED JVM-side workload (no IO, no Python) whose
    # quiet-box time is stable (~1s, see the r5 quietbox rows of
    # docs/BENCH_RECORDINGS.md). The bench host has external
    # CPU bursts (BENCH_r05 landed during one: the same tree measured
    # 16.69s vs a 9.92s quiet floor); a recording whose sentinel legs sit
    # far above calibration is self-identified as hot rather than read
    # as a plan regression. Sampled before the headline section, after
    # it, and after the TPC-H sweep so a mid-run burst is localized.
    def sentinel() -> float:
        t0 = time.time()
        spark.range(200_000_000, numPartitions=32).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s"
        ).collect()
        return round(time.time() - t0, 3)

    sentinel()  # unrecorded: pays this shape's one-time codegen JIT
    sentinels = {"start": sentinel()}
    load_start = os.getloadavg()

    # Per-LEG noise sentinel (r11, additive — r10-verdict #8: the three
    # section sentinels straddled a mid-run burst that cost that round
    # its headline number). A quarter-size fixed probe (~0.06-0.08 s
    # quiet on this class of box, scaling with the big sentinel whose
    # quiet band is ~0.22-0.28) runs right AFTER each leg's best-of
    # loop; a value ≥ ~2× the run's own quiet band flags contention at
    # that leg. Indicator, not proof — a burst that ends with the leg
    # escapes it; the per-section sentinels above stay authoritative
    # for run-level quietness. Existing JSON keys are unchanged.
    leg_sentinel: dict[str, float] = {}

    def mini_sentinel(tag: str) -> None:
        t0 = time.time()
        spark.range(50_000_000, numPartitions=32).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s"
        ).collect()
        leg_sentinel[tag] = round(time.time() - t0, 3)

    # Adaptive repeats: measure until the two fastest runs confirm each
    # other (within 25%), cap 4. A quiet box settles in 2 runs (cheaper
    # than fixed best-of-3); a host burst triggers extra samples exactly
    # when they're needed, so one burst can never set a leg's record the
    # way r5's best-of-2 allowed.
    results: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        stats = {"n": 0, "runs": 0}

        def sample() -> float:
            t0 = time.time()
            stats["n"] = fn(spark, sf_dir).count()
            stats["runs"] += 1
            return time.time() - t0

        best = _adaptive_best(sample)
        results[name] = round(best, 3)
        mini_sentinel(name)
        print(
            f"# {name}: {best:.3f}s ({stats['n']} rows,"
            f" {stats['runs']} runs)",
            file=sys.stderr,
        )

    results["chat_turn"] = bench_chat_turns(spark, sf_dir)
    mini_sentinel("chat_turn")
    print(
        f"# chat_turn: {results['chat_turn']:.3f}s ({CHAT_TURNS} turns)",
        file=sys.stderr,
    )
    results["chat_session"] = bench_chat_session(spark, sf_dir)
    mini_sentinel("chat_session")
    print(
        f"# chat_session: {results['chat_session']:.3f}s ({CHAT_TURNS} turns)",
        file=sys.stderr,
    )
    results["chat_serving_ram"] = bench_chat_serving_ram(spark, sf_dir)
    results["serving_hierarchy_ram"] = bench_serving_hierarchy(
        spark, sf_dir
    )
    results["serving_hnsw_ram"] = bench_serving_hnsw(spark, sf_dir)
    print(
        f"# serving_hnsw_ram: "
        f"{results['serving_hnsw_ram']:.6f}s/query",
        file=sys.stderr,
    )
    print(
        f"# serving_hierarchy_ram: "
        f"{results['serving_hierarchy_ram']:.6f}s/query",
        file=sys.stderr,
    )
    print(
        f"# chat_serving_ram: {results['chat_serving_ram']:.3f}s"
        f" ({CHAT_TURNS} turns)",
        file=sys.stderr,
    )

    total = round(sum(results.values()), 3)
    # the gate number must FAIL LOUDLY if a comparable leg ever goes
    # missing — a silent 15-leg sum would under-report and fake-pass
    missing16 = set(SUBSET16) - results.keys()
    assert not missing16, f"SUBSET16 legs missing from results: {missing16}"
    subset16 = round(sum(results[k] for k in SUBSET16), 3)
    print(
        f"# 16-subset: {subset16:.3f}s"
        f" ({subset16 / _SUBSET16_BASELINE_R01:.3f}x r01 baseline)",
        file=sys.stderr,
    )
    sentinels["after_headline"] = sentinel()

    # 10× scale re-measurement (separate section: `value` stays the same
    # 16-query headline total, round-over-round comparable)
    scale: dict[str, float] = {}
    scale_dir = ensure_scale_corpus(spark, sf_dir)
    # warm the 10x corpus scan once, then best-of-2 like the headline
    # section: first execution of the 32-perm signature shape pays
    # ~15s of whole-stage-codegen JIT that steady-state runs don't
    spark.read.parquet(os.path.join(scale_dir, "documents.parquet")).count()
    for name, fn in scale10x_queries(qs).items():
        best, n = float("inf"), 0
        for _ in range(2):
            t0 = time.time()
            n = fn(spark, scale_dir).count()
            best = min(best, time.time() - t0)
        scale[name] = round(best, 3)
        mini_sentinel(f"scale10x.{name}")
        print(f"# scale10x {name}: {scale[name]:.3f}s ({n} rows)", file=sys.stderr)

    scale["stream_live_tumbling"] = bench_stream_live_10x(
        spark, scale_dir
    )
    mini_sentinel("scale10x.stream_live_tumbling")

    scale["chat_deep_history"] = bench_chat_deep_history(spark, sf_dir)
    mini_sentinel("scale10x.chat_deep_history")
    print(
        f"# scale10x chat_deep_history: {scale['chat_deep_history']:.3f}s"
        " (4 turns over 500 stored)",
        file=sys.stderr,
    )

    # TPC-H power run: the 22-query sweep back-to-back, best-of-2 each
    tpch: dict[str, float] = {}
    for name in TPCH:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        tpch[name] = round(best, 3)
        mini_sentinel(f"tpch.{name}")
    tpch_total = round(sum(tpch.values()), 3)
    print(f"# tpch 22-query total: {tpch_total:.3f}s", file=sys.stderr)

    sentinels["end"] = sentinel()
    load_end = os.getloadavg()
    print(f"# sentinel legs: {sentinels} loadavg {load_start}->{load_end}",
          file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": total,
                "unit": "sec",
                "queries": results,
                # the round-over-round comparable number (legs present
                # since r01; judge's <=2x gate is against 17.492 s)
                "subset16": subset16,
                "subset16_vs_r01": round(
                    subset16 / _SUBSET16_BASELINE_R01, 3
                ),
                "sf": float(sf),
                "scale10x": scale,
                "tpch": tpch,
                "tpch_total": tpch_total,
                # fixed-work noise sentinel (see sentinel() above): quiet
                # box ≈ the calibration noted in README/ROUND6 notes; a
                # hot recording shows here, not as a fake regression
                "sentinel": sentinels,
                # r11 additive: one quarter-size sentinel sample taken
                # right after each leg (keys prefixed scale10x./tpch.
                # for the non-headline sections) — localizes host bursts
                # to the leg they hit instead of a whole section
                "leg_sentinel": leg_sentinel,
                "loadavg": {"start": load_start, "end": load_end},
            }
        )
    )


if __name__ == "__main__":
    main()
