#!/usr/bin/env python3
"""Fusion quality at scale (r9, VERDICT r8 ask #5): the registered
`ann_recall_eval` prices the retrieval stack's quality at sweep sf;
this rung measures the SAME recall ladder at the big rungs — where the
r8 vectorized IVF assignment makes index builds cheap enough to sweep —
and traces the recall-vs-nprobe CURVE for both the raw IVF-PQ probe and
the production fusion (BM25 ⊕ IVF-PQ under RRF), so the
quality-vs-probe-cost trade is a recorded table instead of a spot
value.

Per nprobe in NPROBES:
  - ivf_flat recall@k (the probe's exact-scored upper bound);
  - ivf_pq recall@k vs the pinned exact dense top-k;
  - hybrid_rrf_pq RANKING recall: the fusion over the IVF-PQ probe vs
    the same fusion over the exact dense ranking (the r8 metric).
Asserted invariants are exactly the SET-monotone ones the local tests
pin: ivf_flat recall is non-decreasing in nprobe (probed lists nest),
and ivf_pq <= ivf_flat at the same nprobe (the PQ path exact-reranks a
SUBSET of flat's candidates — its ADC shortlist). ivf_pq across nprobe
is NOT asserted monotone: with a bounded rerank window, newly probed
vectors with better ADC but worse true distance can push a true
neighbor out of the shortlist — a real, documented trade of the
bounded-rerank design, visible in the recorded curve.

Usage: python examples/ann_recall_rung.py SF_DIR [N_QUERIES] [K]
Prints one JSON line. Centroids are trained once per run and shared
across the curve (`cents=`); each probe builds its own assignments and
PQ codes from them, so the per-probe times include the index build.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
    IVFPQ_RERANK,
    _hybrid_lex_ranks,
    _hybrid_rrf_fuse,
    _learned_centroids,
    cosine_topk,
    ivf_pq_probe_topk,
    ivf_probe_topk,
)
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.pin import pin

NPROBES = [1, 2, 4, 8]


def _recall(approx, truth) -> float:
    hits = approx.select("q_id", "d_id").join(
        truth.select("q_id", "d_id"), ["q_id", "d_id"], "left_semi"
    ).count()
    denom = truth.count()
    return round(hits / denom, 6) if denom else float("nan")


def main() -> None:
    sf_dir = sys.argv[1]
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark("ann-recall-rung")
    spark.sparkContext.setLogLevel("ERROR")

    embeddings = load_table(spark, sf_dir, "embeddings")
    documents = load_table(spark, sf_dir, "documents")
    n_corpus = embeddings.count()

    t0 = time.monotonic()
    cents = _learned_centroids(embeddings)
    train_s = time.monotonic() - t0

    t0 = time.monotonic()
    exact = pin(
        cosine_topk(embeddings, n_queries, k).select("q_id", "d_id", "rnk"),
        "rung_exact",
    )
    exact_s = time.monotonic() - t0

    lex = _hybrid_lex_ranks(documents)
    fused_exact = pin(
        _hybrid_rrf_fuse(
            exact.select("q_id", "d_id", F.col("rnk").alias("dense_rnk")), lex
        ).select("q_id", "d_id"),
        "rung_hybrid_exact",
    )

    curve = []
    for nprobe in NPROBES:
        t0 = time.monotonic()
        flat = pin(
            ivf_probe_topk(embeddings, n_queries, k, nprobe, cents).select(
                "q_id", "d_id"
            ),
            f"rung_flat_np{nprobe}",
        )
        flat_s = time.monotonic() - t0
        t0 = time.monotonic()
        ann = pin(
            ivf_pq_probe_topk(
                embeddings, n_queries, k, nprobe, IVFPQ_RERANK, cents
            ).select("q_id", "d_id", "rnk"),
            f"rung_ann_np{nprobe}",
        )
        probe_s = time.monotonic() - t0
        fused_ann = _hybrid_rrf_fuse(
            ann.select("q_id", "d_id", F.col("rnk").alias("dense_rnk")), lex
        ).select("q_id", "d_id")
        # the actionable variant: rerank window SCALED with nprobe, so
        # the exact-rerank budget keeps pace with the ADC candidate
        # volume instead of being crowded by it
        ann_scaled = pin(
            ivf_pq_probe_topk(
                embeddings, n_queries, k, nprobe, IVFPQ_RERANK * nprobe, cents
            ).select("q_id", "d_id"),
            f"rung_ann_scaled_np{nprobe}",
        )
        curve.append(
            {
                "nprobe": nprobe,
                "ivf_flat_recall": _recall(flat, exact),
                "ivf_pq_recall": _recall(ann, exact),
                "ivf_pq_scaled_rerank_recall": _recall(ann_scaled, exact),
                "hybrid_rrf_pq_recall": _recall(fused_ann, fused_exact),
                "flat_probe_s": round(flat_s, 1),
                "pq_probe_s": round(probe_s, 1),
            }
        )

    for a, b in zip(curve, curve[1:]):
        assert b["ivf_flat_recall"] >= a["ivf_flat_recall"] - 1e-9, (
            f"ivf_flat recall NOT monotone in nprobe: {a} -> {b} — probed "
            "lists nest, hits are set-monotone"
        )
    for c in curve:
        assert c["ivf_pq_recall"] <= c["ivf_flat_recall"] + 1e-9, (
            f"ivf_pq above its flat upper bound at nprobe={c['nprobe']}: {c}"
        )

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_corpus": n_corpus,
                "n_queries": n_queries,
                "k": k,
                "centroid_train_s": round(train_s, 1),
                "exact_groundtruth_s": round(exact_s, 1),
                "curve": curve,
            }
        )
    )


if __name__ == "__main__":
    main()
