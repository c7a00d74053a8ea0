"""IVF-PQ recall study on CLUSTERED vs near-uniform embeddings (VERDICT r6
#9): the r6 recall ceiling (0.55 @ nprobe=3, PQ16x8 trained) was measured on
the near-uniform sf0.01 fixture, where IVF routing caps recall by
construction (true neighbors land in un-probed buckets). This script
generates a mixture-of-Gaussians fixture — the shape real embedding models
produce — and re-measures the recall curve on BOTH fixtures with identical
configs, so the ceiling can be attributed (routing artifact vs quantizer
weakness) and the SCALE.md table re-pinned.

Usage: python tools/recall_study.py [n_queries]
Prints one markdown table per fixture.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparsity_spark.session import get_spark


def clustered_fixture(spark, n=4000, dim=64, n_clusters=32, std=0.06, seed=7):
    """Mixture of Gaussians: cluster centers uniform in [-0.5, 0.5]^dim,
    members at center + N(0, std) — std chosen so clusters are tight
    relative to center separation (typical separation ~ sqrt(dim/6) ≈ 3.3,
    so 0.06·sqrt(64) ≈ 0.5 keeps clusters well separated)."""
    rng = np.random.RandomState(seed)
    centers = rng.uniform(-0.5, 0.5, size=(n_clusters, dim))
    asg = rng.randint(0, n_clusters, size=n)
    X = centers[asg] + rng.normal(0.0, std, size=(n, dim))
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def uniform_fixture(spark, sf_dir="/root/testdata/sf0.01"):
    from sparsity_spark.data import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def recall_at_k(spark, emb, label, k=10, n_queries=20, ivf_k=16):
    from sparsity_spark.operators.similarity import (
        _residuals,
        cosine_topk,
        ivf_pq_topk,
        kmeans_fit,
        pq_trained_codebook,
    )

    emb = emb.localCheckpoint(eager=True)
    qids = [r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").limit(n_queries).collect()]
    queries = emb.filter(emb.vec_id.isin(qids))
    truth = {}
    for r in cosine_topk(emb, queries, k=k).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    cents = kmeans_fit(emb, k=ivf_k, iters=2)
    print(f"\n### {label} (recall@{k}, {n_queries} queries, IVF k={ivf_k})\n")
    print("| config | nprobe=1 | nprobe=3 | nprobe=5 |")
    print("|---|---|---|---|")
    configs = [
        (8, 64, True, False),
        (16, 256, False, False),
        (16, 256, True, False),
        (16, 256, False, True),
        (16, 256, True, True),
    ]
    for m, k_code, trained, residual in configs:
        if trained:
            train_src = (
                _residuals(emb, cents)
                .withColumnRenamed("residual", "embedding")
                .select("vec_id", "embedding")
                if residual
                else emb
            )
            book = pq_trained_codebook(train_src, m=m, k=k_code, dim=64, iters=2)
        else:
            book = None
        row = [
            f"m={m} k={k_code} {'trained' if trained else 'sampled'}"
            + (" residual" if residual else "")
        ]
        for nprobe in (1, 3, 5):
            got = ivf_pq_topk(
                emb, queries, cents, m=m, k_code=k_code, topk=k, nprobe=nprobe,
                codebook=book, residual=residual,
            ).collect()
            hits = sum(1 for r in got if r["neighbor_id"] in truth.get(r["query_id"], set()))
            denom = sum(len(v) for v in truth.values())
            row.append(f"{hits / denom:.3f}")
        print("| " + " | ".join(row) + " |")


def main():
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("recall_study")
    spark.sparkContext.setLogLevel("ERROR")
    recall_at_k(spark, clustered_fixture(spark), "clustered (32-Gaussian mixture, 4000×64)", n_queries=n_queries)
    recall_at_k(spark, uniform_fixture(spark), "near-uniform (sf0.01 embeddings)", n_queries=n_queries)
    spark.stop()


if __name__ == "__main__":
    main()
