"""Central query registry: merges every operator module's QUERIES/ORACLES.

__spark_entry__.queries()/oracle_sql() read from here. Invariant (checked in
tests): every queries() key has either an oracle twin or is explicitly
listed in NO_ORACLE (non-SQL-expressible ops → driver rows-only check).

Ordering contract: the external correctness sweep covers the FIRST 50
registry entries in insertion order. PRIORITY lists, by name, every query
that still needs (or, after a plan change, needs a fresh) driver-oracle
row; those are emitted first, the rest follow in MODULE_ORDER. Queries
rotated out of the window stay protected by the local harness
(tests/test_oracle_parity.py — the same compare at sf0.001). Refresh
PRIORITY each round from the latest CORRECTNESS_r{N}.json.

Imports are deliberately NOT guarded: a broken operator module must fail
the whole registry loudly (a swallowed ImportError would silently shrink
the query surface and let the correctness gate pass on fewer queries).
tests/test_oracle_parity.py pins the exact query count as a second guard.

EAGER-EXECUTION NOTE: most entries are pure plan builders (calling the
function runs no Spark jobs until an action). Exceptions, documented at
their definitions, run jobs at BUILD time: queries whose plan reuses an
intermediate across branches via operators/pin.py (basket_affinity,
bm25_topk_terms, hybrid_retrieval_rrf, hybrid_retrieval_rrf_ann
(whose IVF-PQ dense side also derives codebooks/centroids from the
corpus), term_lift_pairs, pagerank_fixedpoint,
graph_triangle_stats, tfidf_topk_terms, neardup_components and its
dependents training_corpus/dedup_survivors/quality_filter_funnel — for
a one-partition candidate graph the chain runs the LSH edge pin plus one
collect of the edges, and propagation then runs on the driver; larger
graphs run the distributed loop, jobs per round)
and queries whose parameters derive from the data via driver round-trips
(kmeans_clusters, semdedup_candidates, ivf_*: corpus count / seeds /
centroid sums; embedding_near_dups and its _planted variant: one count()
that picks the corpus-derived LSH partition — mask width / table count;
simhash_near_dups and its _planted variant: the block count, from a
document count observed inside the signature pin's job; the oracle
re-derives the same integers from count(*), or is block-independent
(simhash's all-pairs contract);
histogram_quantile_calibration: 3-scalar extent + 64-row histogram for
the two-phase exact-selection comparator; ann_recall_eval: the pinned
brute-force ground-truth pass it ranks every ANN variant against, and
one IVF-PQ probe build shared by its ivf_pq and hybrid rows;
graph_triangle_stats: one pair-bound agg that derives the broadcast-vs-
shuffle join strategy — the unconditional edge broadcast failed at the
r6 sf10 rung); and the ingest-fixture queries that stage files and
drain a Structured Streaming query at build (stream_mor_ingest,
xml_stream_ingest — both memoized per corpus;
stream_stateful_user_totals — unmemoized, the 3-file fixture republish
is cheaper than a corpus hash; stream_session_event_expiry — one
bounded min/max round-trip sizes its time slices, then a 5-file publish
+ self-terminating availableNow drain; stream_session_expiry — unmemoized
4-batch publish + a listener-driven drain with explicit stop, because
ProcessingTimeTimeout keeps the engine scheduling batches and
availableNow would never terminate — sweep-cost budget in
BENCH_NOTES r10).
pin() defaults to localCheckpoint (executor-local blocks — fine in
local[*]); set SPARK_GRAFT_PIN=table to materialize those intermediates
to durable scratch parquet instead, the cluster-scale mode (survives
executor loss; read-back re-shuffles once where checkpoint blocks kept
partitioning — delta measured in BENCH_NOTES.md). Loop-internal
iterative states remain localCheckpoint by design (pin.py docstring).
"""

from __future__ import annotations

import importlib

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

MODULE_ORDER = [
    "tpch",
    "scalarfuncs",
    "corpusops",
    "pythonudf",
    "analytic",
    "dedup",
    "similarity",
    "multimodal",
    "relational",
    "textops",
    "eventsops",
    "clustering",
    "warehouse",
    "curation",
    "streamingq",
    "sketches",
    "graphops",
]

# Round-14 sweep priority (optimization round 2). The r14 pass touched
# the plans/kernels of 17 registered queries: the batched multi-space
# kmeans trainer (kmeans_core._train_spaces — every kmeans/IVF/PQ
# consumer's training path), the IVF-PQ build restructure (one training,
# books passed into pq_codes), the blocked running-top-k semdedup
# kernel, the block-matrix Arrow cosine_topk, the signature-proxy pins
# in simhash_near_dups/incremental_neardup, the training_corpus
# anti-join, and the single-tokenize oov_rate. Every result was proven
# bit-identical (old-vs-new compares + oracle parity at sf0.01/sf0.1,
# pin modes where applicable — OPTIMIZATION_r14.md), but plan/kernel-
# changed queries need FRESH driver rows per the rotation invariant,
# and they outrank staleness. Window: the changed names of groups (0),
# (0') and (a), 22 in all, then 28 staleness fills (the remaining
# r8-cohort rows, then the r9 cohort in name order — ranking recomputed
# from CORRECTNESS_r01..r13).
PRIORITY = [
    # (00) key range now derived from the key domain (it was empty at
    # sf0.001), so the plan reads other buckets (1 row)
    "cow_keyrange_lookup",
    # (0) plan changed by the LSH chain diet: the edge pin of the near-dup
    # chain lost its redundant distinct, and the MinHash signature and
    # est_jaccard are built from SQL text (same operators, new lambda
    # variable names); name order (7 rows)
    "dedup_survivors",
    "incremental_neardup",
    "minhash_calibration",
    "minhash_lsh_candidates",
    "neardup_components",
    "quality_filter_funnel",
    "training_corpus",
    # (0') build changed by the single IVF-PQ probe of ann_recall_eval and
    # the observed document count of simhash_near_dups (and its planted
    # variant); name order (3 rows)
    "ann_recall_eval",
    "simhash_near_dups",
    "simhash_near_dups_planted",
    # (a) every query whose PHYSICAL PLAN or kernel changed in the r14
    # optimization pass, less those in (0); name order (12 rows)
    "cluster_label_purity",
    "cosine_topk",
    "hybrid_retrieval_rrf",
    "hybrid_retrieval_rrf_ann",
    "ivf_list_sizes",
    "ivf_pq_probe_topk",
    "ivf_probe2_topk",
    "ivf_probe_topk",
    "kmeans_clusters",
    "oov_rate",
    "pq_codes",
    "semdedup_candidates",
    # (b) staleness fill to 50: the r8-cohort remainder (last driver
    # row r8), name order (17 rows)
    "hourly_anomalies",
    "interpolate_hourly",
    "inverted_index",
    "multimodal_resize",
    "ntile_quartiles",
    "price_quantity_corr",
    "rolling_7d_actives",
    "scd2_intervals",
    "sequence_packing",
    "session_conversion",
    "stratified_sample",
    "table_diff",
    "term_lift_pairs",
    "twap_per_user",
    "udtf_sentences",
    "weighted_sample",
    "xml_stream_ingest",
    # (c) r9-cohort head (last driver row r9), name order (10 rows)
    "array_agg_per_brand",
    "array_functions",
    "cheapest_supplier_per_part",
    "date_arithmetic",
    "deterministic_sample",
    "distribution_drift",
    "explode_roundtrip",
    "fk_integrity_audit",
    "gopher_quality_flags",
    "grouped_agg_pandas",
]
# r15 PRIORITY candidates (staleness head after the r14 sweep): the
# r9-cohort remainder in name order (histogram_quantile_calibration,
# hll_users_per_event_type,
# holt_linear_forecast, id_gap_analysis, json_extract_props,
# k_anonymity_audit, key_skew_report, lang_id_confusion,
# leakage_safe_split, map_functions, math_functions,
# multi_touch_attribution, pagerank_fixedpoint, ...), then the r10
# cohort. Queries ADDED or PLAN-CHANGED during r15 must be PREPENDED
# per the rotation invariant, as in r13/r14.


def _collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    merged_q: dict[str, QueryFn] = {}
    merged_o: dict[str, str] = {}
    for name in MODULE_ORDER:
        mod = importlib.import_module(
            f"pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.{name}"
        )
        merged_q.update(mod.QUERIES)
        merged_o.update(mod.ORACLES)
    missing = [n for n in PRIORITY if n not in merged_q]
    if missing:
        raise RuntimeError(f"PRIORITY names not in any module's QUERIES: {missing}")
    queries: dict[str, QueryFn] = {n: merged_q[n] for n in PRIORITY}
    queries.update(merged_q)  # remaining keys keep module order
    oracles: dict[str, str] = {n: merged_o[n] for n in PRIORITY if n in merged_o}
    oracles.update(merged_o)
    return queries, oracles


def all_queries() -> dict[str, QueryFn]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]


# non-SQL-expressible ops → rows-only check (currently none: even the
# mapInPandas feature extraction has a byte-arithmetic DuckDB twin)
NO_ORACLE: set[str] = set()

# queries whose result is empty on the tier-1 corpus (sf0.001), each with
# the reason; tests/test_oracle_parity.py fails any OTHER query whose
# Spark and oracle results are both empty (two empty results agree
# whatever the query computes)
EMPTY_AT_TEST_SCALE: dict[str, str] = {
    "tpch_q2": "no part of type STANDARD and size 14 exists at sf0.001",
    "tpch_q7": "no supplier is in NATION_1 or NATION_2 at sf0.001",
    "tpch_q11": "no supplier is in NATION_7 at sf0.001",
    "customers_without_orders": "every customer has an order at sf0.001",
    "embedding_near_dups": (
        "no embedding pair is a near duplicate in the test corpus; its LSH "
        "and verify path is exercised only by embedding_near_dups_planted"
    ),
}
