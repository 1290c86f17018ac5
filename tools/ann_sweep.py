"""ANN recall/latency sweep: IVF and PQ configs vs brute-force truth.

Produces the docs/ANN_RECALL.md tables: recall@5 and wall time for
IVF n_cells x n_probe combinations (seed + k-means centroids) and PQ
m x k x rerank combinations, on the sf0.01 embeddings.
Run:  python tools/ann_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_stream_aggregator_spark.llm.similarity import (
    as_double,
    brute_force_topk,
    ivf_topk,
    kmeans_centroids,
    pseudo_centroids,
)
from kafka_stream_aggregator_spark.session import get_spark
from kafka_stream_aggregator_spark.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ann_sweep")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).cache()
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec"))
    t0 = time.time()
    exact = {(r["q_id"], r["c_id"]) for r in brute_force_topk(q, c, k=5).collect()}
    t_exact = time.time() - t0
    print(f"brute force: {len(exact)} pairs in {t_exact:.2f}s")
    print("| centroids | n_cells | n_probe | recall@5 | sec |")
    print("|---|---|---|---|---|")
    for n_cells in (8, 16, 32):
        for kind in ("seed", "kmeans"):
            cents = (
                pseudo_centroids(e, "v", "vec_id", n_cells)
                if kind == "seed"
                else kmeans_centroids(e, "v", "vec_id", n_cells, n_iter=3)
            ).cache()
            cents.count()
            for n_probe in (1, 2, 4):
                t0 = time.time()
                approx = {
                    (r["q_id"], r["c_id"])
                    for r in ivf_topk(q, c, cents, k=5, n_probe=n_probe).collect()
                }
                dt = time.time() - t0
                rec = len(exact & approx) / len(exact)
                print(
                    f"| {kind} | {n_cells} | {n_probe} | {rec:.3f} | {dt:.2f} |"
                )

    from kafka_stream_aggregator_spark.llm.pq import (
        pq_codebook,
        pq_encode,
        pq_topk,
        pq_topk_rerank,
        pq_train_codebook,
    )

    print()
    print("| codebook | m | k | mode | recall@5 | sec |")
    print("|---|---|---|---|---|---|")
    for m, kk, trained in ((8, 16, False), (8, 32, True), (16, 32, True)):
        cb = (
            pq_train_codebook(e, "vec_id", "v", m=m, k=kk, dim=64, n_iter=2)
            if trained
            else pq_codebook(e, "vec_id", "v", m=m, k=kk, dim=64)
        ).cache()
        cb.count()
        codes = pq_encode(e, cb, "vec_id", "v", m=m, dim=64).select(
            F.col("vec_id").alias("c_id"), "sub_id", "cw_id"
        ).cache()
        codes.count()
        kind = "trained" if trained else "seeded"
        t0 = time.time()
        adc = {
            (r["q_id"], r["c_id"])
            for r in pq_topk(q, codes, cb, m=m, dim=64, k=5).collect()
        }
        dt = time.time() - t0
        print(
            f"| {kind} | {m} | {kk} | ADC top-5 "
            f"| {len(exact & adc) / len(exact):.3f} | {dt:.2f} |"
        )
        for cand in (25, 50):
            t0 = time.time()
            rer = {
                (r["q_id"], r["c_id"])
                for r in pq_topk_rerank(
                    q, codes, cb, c, m=m, dim=64, k=5, n_candidates=cand
                ).collect()
            }
            dt = time.time() - t0
            print(
                f"| {kind} | {m} | {kk} | ADC top-{cand} + rerank "
                f"| {len(exact & rer) / len(exact):.3f} | {dt:.2f} |"
            )


if __name__ == "__main__":
    main()
