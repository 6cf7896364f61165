"""ANN at 1M vectors (VERDICT r6 next-round #5): the recall/throughput
curve one decade past the 100k tier.

Corpus: 1000 planted clusters x 1000 vectors, dim 32 (distributed
generator, deterministic under any partitioning), cached as parquet.
Queries: 100 cluster representatives. Exact ground truth is a
driver-side float64 matmul over the collected corpus (256 MB — fine on
the driver for a benchmark; the DISTRIBUTED exact path,
cosine_topk_bruteforce, is the oracle-checked contract flavor and
produces identical top-k by construction: same cosine, same 6-decimal
rounding, same (cos desc, vec_id asc) tie order).

Sweeps trained-IVF (codebook ~sqrt(N) = 1024 cells, train sample 16384;
past 64 cells rows are assigned by the Arrow kernel) over nprobe 1..16,
plus the best-LSH tuning from the 100k table for comparison. Writes one
JSON line to BENCH/ANN_1M.json and prints it.

Run: python tools/bench_ann_1m.py  (~5-10 min on local[32])
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CLUSTERS = 1000
PER_CLUSTER = 1000
DIM = 32
SEED = 11
K = 10
N_QUERIES = 100
CACHE = "/tmp/ne_ann_1m.parquet"


def main() -> None:
    from pyspark.sql import functions as F

    from nativeextractor_spark.datagen.embeddings import (
        clustered_embeddings_df_dist,
    )
    from nativeextractor_spark.session import get_spark
    from nativeextractor_spark.textops.similarity import (
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        "ann-1m", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    if not os.path.exists(os.path.join(CACHE, "_SUCCESS")):
        clustered_embeddings_df_dist(
            spark, N_CLUSTERS, PER_CLUSTER, DIM, SEED
        ).repartition(64).write.mode("overwrite").parquet(CACHE)
    emb = spark.read.parquet(CACHE)

    # queries: one representative from every 10th cluster
    q_ids = [c * PER_CLUSTER for c in range(0, N_CLUSTERS, N_CLUSTERS // N_QUERIES)]
    queries = emb.where(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)

    # exact truth: driver matmul (see module docstring)
    t0 = time.time()
    rows = emb.collect()
    ids = np.fromiter((r.vec_id for r in rows), dtype=np.int64, count=len(rows))
    V = np.asarray([r.embedding for r in rows], dtype=np.float64)
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    qpos = np.searchsorted(ids, np.asarray(q_ids))
    Q = V[qpos]
    cos = np.round(Q @ V.T, 6)
    truth: dict[int, set[int]] = {}
    for qi, qid in enumerate(q_ids):
        # (cos desc, vec_id asc), excluding the query vector itself is NOT
        # done — the engines keep self-hits too, so truth keeps them
        top = np.lexsort((ids, -cos[qi]))[:K]
        truth[qid] = set(int(ids[t]) for t in top)
    t_truth = time.time() - t0

    def recall(df) -> float:
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(
            len(got.get(q, set()) & truth[q]) / K for q in truth
        ) / len(truth)

    results = {"truth_sec": round(t_truth, 2)}
    sweeps = []
    for nprobe in (1, 2, 4, 8, 16):
        t0 = time.time()
        df = cosine_topk_ivf(
            emb,
            queries,
            k=K,
            n_centroids=1024,
            nprobe=nprobe,
            codebook="kmeans",
            train_sample=16384,
        )
        r = recall(df)
        sweeps.append(
            {
                "method": f"ivf kmeans 1024 cells, nprobe {nprobe}",
                "recall": round(r, 4),
                "sec": round(time.time() - t0, 2),
            }
        )
        print(sweeps[-1], flush=True)
    t0 = time.time()
    lsh = cosine_topk_lsh(emb, queries, k=K, n_planes=6, dim=DIM, n_bands=12)
    r = recall(lsh)
    sweeps.append(
        {
            "method": "lsh 6 planes x 12 bands",
            "recall": round(r, 4),
            "sec": round(time.time() - t0, 2),
        }
    )
    print(sweeps[-1], flush=True)
    results["sweeps"] = sweeps
    results["n_vectors"] = N_CLUSTERS * PER_CLUSTER
    results["dim"] = DIM
    results["k"] = K
    results["n_queries"] = len(q_ids)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "ANN_1M.json",
    )
    with open(out, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
