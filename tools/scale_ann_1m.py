"""One-off 1M-vector ANN scale experiment (recorded in docs/SCALING.md).

Extends the bench's 100k-vector ANN evidence one more decade: build the
persisted IVF/int8 index over 1,000,000 64-dim vectors with the Arrow
assignment kernel, then measure steady-state serving latency and the
cell-pruning recall cost in isolation.

Recall design: ground truth here is the SAME int8 ADC scoring with
nprobe = n_centroids (a full-index scan through the identical code
path), so the measured recall@10 isolates exactly what IVF pruning
loses at this scale — the int8-vs-float quantization error is already
certified by the catalog's `sim_ivf_recall` / `sim_quantized_topk`
oracle entries at gate SF.

Corpus: 2,000 base vectors (sf0.1) × 500 deterministic perturbed
replicas (hash-derived ±0.1 per component — same recipe as the bench's
100k corpus, factor 50 → 500). Cached under /tmp/ade_scale_ann1m.

Usage: python tools/scale_ann_1m.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ade_agente_documental_empresarial___miner_a_spark.operators.ann import (  # noqa: E402
    ivf_i8_search,
    load_ivf_i8_index,
    save_ivf_i8_index,
)
from ade_agente_documental_empresarial___miner_a_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/tmp/ade_scale_ann1m"
REPLICAS = 500
N_CENTROIDS = 256
NPROBE = 16
K = 10
N_QUERIES = 5


def ensure_corpus(spark) -> str:
    path = os.path.join(OUT, "embeddings.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    # rename before re-aliasing: lateral column alias resolution would
    # otherwise bind the perturbation salt to the NEW vec_id (see
    # tools/scale100x.py — harmless here but renamed for clarity)
    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).withColumnRenamed("vec_id", "src_id")
    reps = spark.range(REPLICAS).select(F.col("id").alias("r"))
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + (
            F.pmod(F.hash(F.col("src_id"), F.col("r"), i), F.lit(1000))
            - F.lit(500)
        ).cast("float")
        / F.lit(5000.0),
    )
    (
        emb.crossJoin(reps)
        .select(
            (F.col("src_id") * REPLICAS + F.col("r")).alias("vec_id"),
            perturbed.cast("array<float>").alias("embedding"),
            "label",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def main() -> None:
    spark = get_spark("ade-scale-ann1m")
    path = ensure_corpus(spark)
    emb = spark.read.parquet(path)
    n_vec = emb.count()

    idx = os.path.join(OUT, "ivf_i8_index")
    t0 = time.time()
    save_ivf_i8_index(
        emb,
        idx,
        n_centroids=N_CENTROIDS,
        refine_iters=1,
        shuffle_to_cells=True,
    )
    build_s = round(time.time() - t0, 1)

    codes, cents = load_ivf_i8_index(spark, idx)
    queries = emb.where(F.col("vec_id") % (n_vec // N_QUERIES) == 7)

    # steady-state serving latency: best-of-3 after a warm-up run
    ivf_i8_search(codes, cents, queries, k=K, nprobe=NPROBE).count()
    serve_s = float("inf")
    for _ in range(3):
        t0 = time.time()
        approx = ivf_i8_search(codes, cents, queries, k=K, nprobe=NPROBE)
        approx_rows = [
            (r["query_id"], r["vec_id"]) for r in approx.collect()
        ]
        serve_s = min(serve_s, round(time.time() - t0, 2))

    # ground truth: same ADC scoring, all cells probed (no pruning)
    t0 = time.time()
    exact = ivf_i8_search(codes, cents, queries, k=K, nprobe=N_CENTROIDS)
    exact_rows = [(r["query_id"], r["vec_id"]) for r in exact.collect()]
    full_scan_s = round(time.time() - t0, 1)

    hits = len(set(approx_rows) & set(exact_rows))
    recall = round(hits / len(exact_rows), 4)

    print(
        json.dumps(
            {
                "n_vectors": n_vec,
                "n_centroids": N_CENTROIDS,
                "build_arrow_s": build_s,
                "serve_nprobe16_s": serve_s,
                "full_scan_s": full_scan_s,
                "n_queries": N_QUERIES,
                "recall_at_10_vs_fullscan": recall,
            }
        )
    )


if __name__ == "__main__":
    main()
