#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE compact JSON line to stdout:
  {"metric": "...", "value": <median total sec>, "unit": "sec",
   "queries": {name: median_sec, ...}, "sf": ..., "repeats": N,
   "run_totals": [...], "buckets": {...}, "detail": "<sidecar path>"}

The driver contract requires the per-query map ("queries") in the final
line, so it stays there; everything NOT contractual that made the r12
line outgrow the driver's 2000-char tail capture (the 43-entry spread
map — BENCH_r12.json parsed: null, VERDICT r12 ask #1) lives in the
sidecar file instead (bench_detail.json next to this script, override
with $SPARK_GRAFT_BENCH_DETAIL). The final line is asserted < 1900
chars so the artifact can never silently truncate again; under
SPARK_GRAFT_BENCH_ALL (220 timed queries — a local debugging mode the
driver never uses) the line keeps only the HEADLINE subset of the map
and the sidecar carries the full set.

Each query is forced end-to-end with a noop sink (full computation, no
result materialization cost on the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import all_queries
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.session import get_spark

# Representative slice of SURVEY.md §2 + north-star operator families:
# star aggs, windows/dedup ops, sort/limit, text, minhash, simhash,
# vector search, event-time windows, sessionization, ranking windows,
# as-of join, HAVING-filtered semi-join (r2: +tpch_q18, rank_functions,
# moving_avg_customer, asof_purchase_before_click, simhash_near_dups).
HEADLINE = [
    "product_facts",
    "rep_facts",
    "top1_product",
    "top3_parts_per_brand",
    "first_order_per_customer",
    "exact_dedup",
    "text_quality",
    "minhash_lsh_candidates",
    "simhash",
    "simhash_near_dups",
    "embedding_near_dups",
    "cosine_topk",
    "lsh_probe_topk",
    "tumbling_hourly",
    "session_stats",
    "pii_scrub",
    "neardup_components",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
    "rank_functions",
    "moving_avg_customer",
    "asof_purchase_before_click",
    "tpch_q10",
    "tfidf_topk_terms",
    "training_corpus",
    # late-r2 additions: nation-year profit star, concat-and-chunk packing,
    # histogram deciles, Arrow 1->1 transform, dup-3-gram scan
    "tpch_q9",
    "sequence_packing",
    "quality_deciles",
    "multimodal_resize",
    "repetition_ratio",
    # clustering family: zero-shuffle literal-centroid assignment +
    # within-cluster pairwise (SemDeDup shape)
    "kmeans_clusters",
    "semdedup_candidates",
    # warehouse family: MERGE-shaped full-outer join, zero-shuffle chunking
    "merge_upsert",
    "doc_chunks",
    # event analytics + corpus summary (late-r2)
    "ohlc_bars",
    "twap_per_user",
    "cohort_retention",
    "oov_rate",
    "ntile_quartiles",
    "dataset_cards",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # SPARK_GRAFT_BENCH_ALL=1 times EVERY registered query (regression
    # visibility for the non-headline tail); default stays the headline set
    headline = list(queries) if os.environ.get("SPARK_GRAFT_BENCH_ALL") else HEADLINE

    # Two-stage warmup (not timed): sf0.001 pass compiles the generated code
    # (Janino), then one untimed pass at the TARGET sf so the timed pass
    # measures steady-state throughput — the first large-data execution pays
    # HotSpot C2 compilation of the codegen'd loops (needs thousands of row
    # iterations, which the tiny corpus never triggers) and cold page-cache
    # parquet reads; measured 3-5x first-run penalties without this.
    warm_dir = "/root/testdata/sf0.001"
    queries["corpus_counts"](spark, warm_dir).count()
    for name in headline:
        queries[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
    for name in headline:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # SPARK_GRAFT_BENCH_REPEATS=N (default 3 as of r12 — the driver's
    # artifact now carries median + spread itself, VERDICT r11 ask #5):
    # time the whole set N times in THIS session and report the
    # per-query MEDIAN plus spread. Cross-session seconds on this host
    # drift ±30-50% (BENCH_NOTES r6/r10), and the r10 verdict flagged a
    # +4.1% headline creep hiding inside single-shot noise over three
    # rounds — the median-of-N protocol is what round-over-round
    # comparisons quote (BENCH_NOTES r11 carries the table and the
    # regression rule: a median move counts only when it exceeds the
    # query's own spread AND 15%). Set =1 for a quick single-shot pass.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    runs: list[dict[str, float]] = []
    for _ in range(repeats):
        t: dict[str, float] = {}
        for name in headline:
            fn = queries[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t[name] = round(time.perf_counter() - t0, 3)
        runs.append(t)
    import statistics

    timings: dict[str, float] = {
        name: round(statistics.median(r[name] for r in runs), 3)
        for name in headline
    }
    spread: dict[str, float] | None = None
    if repeats > 1:
        spread = {
            name: round(
                max(r[name] for r in runs) - min(r[name] for r in runs), 3
            )
            for name in headline
        }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Round-over-round honesty: the r3 cap lifts changed what two headline
    # names COMPUTE (full corpus instead of a bounded subset), so their
    # timings are not comparable with r1/r2 rounds under the same name.
    # The buckets keep the headline total but also report the like-for-like
    # subtotal; BENCH_NOTES.md carries the narrative.
    # buckets are ALWAYS computed over the HEADLINE set, even when
    # SPARK_GRAFT_BENCH_ALL timed the full registry — otherwise the
    # "shared_vs_r2" label would silently cover a different query basis
    # and round-over-round diffs of the field would be meaningless
    workload_changed = {"simhash_near_dups", "embedding_near_dups"}
    shared = round(
        sum(v for k, v in timings.items() if k in HEADLINE and k not in workload_changed),
        3,
    )
    changed = round(
        sum(v for k, v in timings.items() if k in workload_changed), 3
    )
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"),
    )
    detail = {
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "buckets": {
            "basis": "headline",
            "shared_vs_r2": shared,
            "workload_changed_vs_r2": changed,
        },
    }
    if spread is not None:
        detail["repeats"] = repeats
        detail["spread"] = spread
        detail["run_totals"] = [round(sum(r.values()), 3) for r in runs]
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")

    # Compact FINAL line: the driver-contract fields (metric, value, unit,
    # queries, sf) plus the round-over-round essentials (buckets,
    # run_totals). The spread map lives only in the sidecar — that map is
    # what pushed the r12 line past the driver's 2000-char tail capture.
    out = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "queries": {k: v for k, v in timings.items() if k in HEADLINE},
        "sf": sf,
        "buckets": detail["buckets"],
        "detail": detail_path,
    }
    if headline is not HEADLINE:
        # BENCH_ALL mode: `value` sums ALL timed queries while the line's
        # `queries` map keeps only the HEADLINE subset (r13 ADVICE) —
        # name the basis so a consumer cross-checking doesn't misread it
        out["value_basis"] = "all_registered_queries"
    if spread is not None:
        out["repeats"] = repeats
        out["run_totals"] = detail["run_totals"]
    line = json.dumps(out)
    assert len(line) < 1900, f"bench summary line too long ({len(line)} chars)"
    print(line)


if __name__ == "__main__":
    main()
