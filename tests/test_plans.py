"""Physical-plan guards: the scale properties SURVEY §7/§4.3 promises are
asserted on the actual Catalyst output, not just claimed — broadcast star
joins, parquet filter pushdown, partition pruning, and shuffle-free bucketed
joins. A regression that silently degrades a plan (e.g. a dim join falling
back to sort-merge) fails here long before it matters at scale."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.registry import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _scan_count(df) -> int:
    """Parquet scan nodes in the executed-plan tree. Counts lines of the
    simple tree string (one line per node), NOT substring occurrences in
    formatted explain — formatted mode lists every node twice (tree +
    detail section), which silently couples the assertion to the explain
    formatter across Spark versions."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for ln in plan.splitlines() if "Scan parquet" in ln)


def test_product_facts_star_is_all_broadcast(spark, sf_dir):
    plan = _plan(all_queries()["product_facts"](spark, sf_dir))
    # formatted explain mentions each node in the tree and the detail list
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_filter_conjunction_pushes_down_to_scan(spark, sf_dir):
    plan = _plan(all_queries()["filter_conjunction"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least one real predicate reached the parquet reader
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip()


def test_column_pruning_reads_narrow_schema(spark, sf_dir):
    plan = _plan(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey").filter(F.col("l_orderkey") > 0)
    )
    # ReadSchema should contain only the selected column, not all 11
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_extendedprice" not in read_schema


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    dest = str(tmp_path / "orders_by_year")
    orders.write.partitionBy("order_year").mode("overwrite").parquet(dest)
    back = spark.read.parquet(dest).filter(F.col("order_year") == 1995)
    plan = _plan(back)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "order_year" in pf
    # pruning is effective, not just syntactic
    expected = orders.filter(F.year("o_orderdate") == 1995).count()
    assert back.count() == expected


def test_bucketed_join_runs_without_shuffle(spark, sf_dir, tmp_path):
    """Co-located fact⋈fact: bucketing both sides on the join key removes
    the Exchange entirely — the 100 TB strategy for repeated big joins."""
    spark.sql("CREATE DATABASE IF NOT EXISTS buckdb LOCATION '%s'" % (tmp_path / "wh"))
    try:
        load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).mode("overwrite").saveAsTable("buckdb.orders_b")
        load_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).mode("overwrite").saveAsTable("buckdb.lineitem_b")
        joined = spark.table("buckdb.lineitem_b").join(
            spark.table("buckdb.orders_b").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == load_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS buckdb.orders_b")
        spark.sql("DROP TABLE IF EXISTS buckdb.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS buckdb")


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(all_queries()["top5_users_by_value"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_new_tpch_star_plans(spark, sf_dir):
    """r2 TPC-H additions keep the star discipline: dims broadcast (no
    sort-merge joins at this scale), top-k plans TakeOrderedAndProject,
    and filters reach the parquet scans."""
    p10 = _plan(all_queries()["tpch_q10"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p10
    assert "SortMergeJoin" not in p10
    assert "PushedFilters: [" in p10
    p16 = _plan(all_queries()["tpch_q16"](spark, sf_dir))
    assert "SortMergeJoin" not in p16
    assert "CartesianProduct" not in p16


def test_late_r2_tpch_plans(spark, sf_dir):
    """Q2/Q9/Q20 keep the star discipline. Q2: dims broadcast, one window
    shuffle, top-100 via TakeOrdered. Q9: only lineitem⋈orders is a
    shuffled join, part/supplier/nation broadcast. Q20: nested agg + semi
    join, never a cartesian."""
    p2 = _plan(all_queries()["tpch_q2"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p2
    assert "SortMergeJoin" not in p2
    assert "CartesianProduct" not in p2
    p9 = _plan(all_queries()["tpch_q9"](spark, sf_dir))
    assert p9.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p9
    p20 = _plan(all_queries()["tpch_q20"](spark, sf_dir))
    assert "LeftSemi" in p20
    assert "CartesianProduct" not in p20
    assert "BroadcastNestedLoopJoin" not in p20


def test_corpus_signal_plans_stay_narrow(spark, sf_dir):
    """repetition_ratio is explode + one doc_id-keyed aggregate (no join);
    domain_mixture_weights is a tiny agg + 1-row broadcast — neither may
    plan a sort-merge join or cartesian."""
    pr = _plan(all_queries()["repetition_ratio"](spark, sf_dir))
    assert "Join" not in pr, pr
    pm = _plan(all_queries()["domain_mixture_weights"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in pm or "BroadcastHashJoin" in pm
    assert "SortMergeJoin" not in pm
    assert "CartesianProduct" not in pm


def test_packing_and_decile_plans(spark, sf_dir):
    """sequence_packing: one source-partitioned window, no join.
    quality_deciles: decile map joined back by BROADCAST (never a
    sort-merge join of the corpus against itself); the only unpartitioned
    window runs over the tiny score histogram."""
    pp = _plan(all_queries()["sequence_packing"](spark, sf_dir))
    assert "Window" in pp
    assert "Join" not in pp, pp
    pq = _plan(all_queries()["quality_deciles"](spark, sf_dir))
    assert "BroadcastHashJoin" in pq
    assert "SortMergeJoin" not in pq


def test_training_corpus_fuses_signals_into_one_scan(spark, sf_dir):
    """The three per-row corpus signals (tokens/quality/language) must ride
    one projection — 2 scans total (signals + the dedup pipeline), not 5."""
    plan = _plan(all_queries()["training_corpus"](spark, sf_dir))
    assert plan.count("documents.parquet") <= 2, plan


def test_simhash_near_dups_is_blocked_not_cartesian(spark, sf_dir):
    """The registered near-dup plan must candidate via the 16-bit-block
    equi-join — never an all-pairs cartesian/nested-loop."""
    plan = _plan(all_queries()["simhash_near_dups"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_simhash_blocked_equals_allpairs(spark, sf_dir):
    """Exact recall of the Manku block index: the equi-join plan and the
    quadratic ground truth agree row-for-row on the natural corpus (which
    may legitimately have zero Hamming<=3 pairs — zero NOISE pairs is the
    point of the 64-bit contract; non-vacuity lives in the planted test)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dedup import (
        q_simhash_near_dups,
        simhash_near_dups_allpairs,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table as lt

    blocked = sorted(map(tuple, q_simhash_near_dups(spark, sf_dir).collect()))
    exact = sorted(map(tuple, simhash_near_dups_allpairs(lt(spark, sf_dir, "documents")).collect()))
    assert blocked == exact


def test_simhash_planted_near_dups_found(spark, sf_dir):
    """Non-vacuous recall: every planted exact copy (Hamming 0) must pair
    with its original, and the blocked plan must match the quadratic
    ground truth on the planted corpus too."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dedup import (
        DOC_PLANT_N,
        DOC_PLANT_OFFSET,
        _with_planted_docs,
        simhash_near_dups_allpairs,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table as lt

    got = sorted(map(tuple, all_queries()["simhash_near_dups_planted"](spark, sf_dir).collect()))
    exact = sorted(
        map(
            tuple,
            simhash_near_dups_allpairs(
                _with_planted_docs(lt(spark, sf_dir, "documents"))
            ).collect(),
        )
    )
    assert got == exact
    pairs = {(a, b) for a, b, _ in got}
    planted_ids = {
        r.doc_id
        for r in lt(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < DOC_PLANT_N)
        .select("doc_id")
        .collect()
    }
    for i in sorted(planted_ids):
        assert (i, i + DOC_PLANT_OFFSET) in pairs, f"planted copy of doc {i} not found"


def test_embedding_near_dups_is_bucketed_not_cartesian(spark, sf_dir):
    plan = _plan(all_queries()["embedding_near_dups"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_lsh_subset_of_allpairs(spark, sf_dir):
    """Precision is certain (exact cosine verify within candidates): every
    LSH pair is in the all-pairs ground truth. Recall is approximate by
    contract — the registered ORACLE now states the plan's exact semantics
    (code-Hamming <= 2 AND cosine >= 0.9), so driver parity never depends
    on the corpus having no hard pairs; the planted-pair test below is the
    non-vacuous recall check."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        embedding_near_dups_allpairs,
        q_embedding_near_dups,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table as lt

    lsh = set(map(tuple, q_embedding_near_dups(spark, sf_dir).collect()))
    exact = set(map(tuple, embedding_near_dups_allpairs(lt(spark, sf_dir, "embeddings")).collect()))
    assert lsh <= exact


def test_embedding_lsh_finds_planted_near_dups(spark):
    """Non-vacuous recall check (the real corpus has no cos >= 0.9 pairs):
    plant exact and scaled duplicates — identical sign pattern, cosine 1.0 —
    plus an anti-correlated vector, and assert the LSH path surfaces exactly
    the planted pairs."""
    import math

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        embedding_near_dups,
    )

    base = [math.sin(i * 0.7) + 0.1 for i in range(64)]
    # a genuinely-near (not identical) neighbor: small deterministic
    # perturbation, cosine ~0.95 — sign projections rarely flip, so it
    # lands within the Hamming-2 probe radius
    near = [x + 0.1 * math.cos(i * 1.3) for i, x in enumerate(base)]
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(2.0 * x) for x in base]),      # cosine exactly 1.0 with 0
        (2, [float(-x) for x in base]),           # cosine -1.0: must not pair
        (3, [float((-1) ** i) for i in range(64)]),
        (4, [float(x) for x in near]),            # cosine ~0.95 with 0 and 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.vec_a, r.vec_b) for r in embedding_near_dups(df).collect()}
    assert got == {(0, 1), (0, 4), (1, 4)}


def test_neardup_components_partitioning_scales_with_edges(spark, sf_dir):
    """Partition count derives from the edge count (no hard-coded
    coalesce(1)): a tiny rows_per_partition must fan the graph out across
    >1 partitions without changing the result."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table as lt
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.corpusops import (
        _graph_partitions,
        neardup_components,
    )

    assert _graph_partitions(0, 500_000) == 1
    assert _graph_partitions(10, 500_000) == 1
    assert _graph_partitions(500_001, 500_000) == 2
    assert _graph_partitions(10**12, 500_000) == 4096  # capped

    docs = lt(spark, sf_dir, "documents")
    default = neardup_components(docs)
    fanned = neardup_components(docs, rows_per_partition=4)
    assert fanned.rdd.getNumPartitions() > 1
    assert sorted(map(tuple, fanned.collect())) == sorted(map(tuple, default.collect()))


def test_neardup_components_raises_at_its_round_cap(spark, monkeypatch):
    """A near-dup chain 0-1-...-63 has diameter 63: hooking plus pointer
    jumping needs about six rounds to reach and confirm the fixpoint, so a
    cap of 2 rounds must raise instead of returning labels that are still
    moving. Under the default cap the chain is one component labelled 0.
    The LSH candidate step is replaced by the fixed chain so the graph's
    diameter is exact."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators import corpusops

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    ).withColumn("est_jaccard", F.lit(1.0))
    monkeypatch.setattr(corpusops, "minhash_lsh_candidates", lambda documents: chain)
    docs = spark.createDataFrame([(i, "") for i in range(n)], "doc_id long, text string")
    with pytest.raises(RuntimeError, match=r"did not converge in 2 rounds \(\d+ labels"):
        corpusops.neardup_components(docs, max_iters=2)
    got = {r["doc_id"]: r["component"] for r in corpusops.neardup_components(docs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_cosine_topk_bounds_its_query_collect(spark, sf_dir, monkeypatch):
    """cosine_topk collects its query block to the driver and ships it in
    every task closure, so the query count has a stated bound: one over it
    raises before any job runs; at the bound the block is collected."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    limit = similarity.MAX_TOPK_QUERIES
    with pytest.raises(ValueError, match="MAX_TOPK_QUERIES"):
        similarity.cosine_topk(emb, n_queries=limit + 1)
    monkeypatch.setattr(similarity, "MAX_TOPK_QUERIES", 3)
    with pytest.raises(ValueError, match="n_queries=4"):
        similarity.cosine_topk(emb, n_queries=4)
    got = {r["q_id"] for r in similarity.cosine_topk(emb, n_queries=3, k=1).collect()}
    assert got == {0, 1, 2}


def test_kmeans_assignment_is_zero_shuffle_projection(spark, sf_dir):
    """The clustering assignment pass compiles centroids into literals:
    the final plan must be scan + projection — no join, no shuffle. (The
    centroid-recompute shuffle happens in the two driver round-trips
    *before* this plan is built, MLlib-style.)"""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.clustering import (
        kmeans_assignments,
    )

    plan = _plan(kmeans_assignments(load_table(spark, sf_dir, "embeddings")))
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_semdedup_pairs_join_is_within_cluster(spark, sf_dir):
    """Pairwise cosine must be restricted to each cluster — never a
    cartesian/nested-loop across the corpus. r13 shape: the within-cluster
    pairs are enumerated INSIDE a per-cluster applyInPandas kernel
    (FlatMapGroupsInPandas), so no pair self-join exists at all and each
    embedding crosses the Python boundary once per cluster — the payload
    must not be re-shuffled per partner (the r13 A/B measured the
    pair-join Arrow variant 1.28x worse; OPTIMIZATION_r13.md §2)."""
    plan = _plan(all_queries()["semdedup_candidates"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan  # the old pair self-join is gone


def test_r14_optimization_plan_shapes(spark, sf_dir, monkeypatch):
    """Pin the r14 plan shapes (OPTIMIZATION_r14.md) so a future round
    cannot silently regress them (under the default localCheckpoint pin
    mode, set here rather than inherited from the environment — a
    table-mode pin reads its scratch parquet back, so the plans then
    carry `Scan parquet` nodes by design):
    - cosine_topk streams the corpus through ONE Arrow pass (queries ride
      the closure) — no pair join, no interpreted fold plan;
    - simhash_near_dups reads its PINNED signature proxy, never re-deriving
      the tokenize/signature chain per self-join side (was 4 parquet scans);
    - training_corpus attaches survivors via an ANTI join against the drop
      set instead of a second full documents scan (4 scans -> 2)."""
    monkeypatch.setenv("SPARK_GRAFT_PIN", "local")
    qs = all_queries()
    plan = _plan(qs["cosine_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    plan = _plan(qs["simhash_near_dups"](spark, sf_dir))
    assert "Scan parquet" not in plan  # the signature chain ran once, pinned
    plan = _plan(qs["training_corpus"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert plan.count("Scan parquet ") <= 2


def test_semdedup_outlier_cluster_blocked_topk(spark):
    """r14 (VERDICT r13 ask #2): cluster_topk keeps a RUNNING top-k across
    its 1024-row blocks instead of buffering all O(m^2) pair arrays, so a
    pathological giant cluster cannot OOM the Python worker. A forced
    cluster spanning multiple blocks (m > 1024) must yield exactly the
    pairs a full-materialization lexsort picks."""
    import numpy as np

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.clustering import (
        semdedup_candidates,
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.kmeans_core import (
        kmeans_assignments,
    )

    n = 1300  # derive_k -> 10 seeds; vecs 10.. all huddle near seed 0
    rows = []
    for i in range(n):
        if 1 <= i <= 9:
            emb = [0.0, 10.0 + i, float(i), 1.0]  # far-away seed cluster
        else:
            emb = [10.0, (i % 7) * 1e-3, (i % 11) * 1e-3, (i % 13) * 1e-3]
        rows.append((i, emb))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    asg = {
        int(r["vec_id"]): int(r["cluster_id"])
        for r in kmeans_assignments(df).collect()
    }
    members = sorted(v for v, c in asg.items() if c == asg[0])
    assert len(members) > 1024  # must span multiple kernel blocks
    got = sorted(
        (int(r["vec_a"]), int(r["vec_b"]), float(r["cosine"]), int(r["rnk"]))
        for r in semdedup_candidates(df).collect()
        if int(r["cluster_id"]) == asg[0]
    )
    # reference: full pair materialization + one lexsort (the pre-r14
    # algorithm), same dim-sequential fold and rounding grid
    X = np.array([rows[v][1] for v in members], dtype=np.float64)
    ids = np.array(members, dtype=np.int64)
    m, dim = X.shape
    n2 = np.zeros(m)
    for d in range(dim):
        n2 = n2 + X[:, d] * X[:, d]
    nrm = np.sqrt(n2)
    va, vb, cos = [], [], []
    for i in range(m - 1):
        dots = np.zeros(m - i - 1)
        for d in range(dim):
            dots = dots + X[i, d] * X[i + 1 :, d]
        va.append(np.full(m - i - 1, ids[i]))
        vb.append(ids[i + 1 :])
        cos.append(np.floor(dots / (nrm[i] * nrm[i + 1 :]) * 1e9 + 0.5) / 1e9)
    va, vb, cos = np.concatenate(va), np.concatenate(vb), np.concatenate(cos)
    sel = np.lexsort((vb, va, -cos))[:3]
    want = sorted(
        (int(va[s]), int(vb[s]), float(cos[s]), r + 1) for r, s in enumerate(sel)
    )
    assert got == want


def test_scan_floor_is_conditional_and_value_neutral(spark, sf_dir):
    """The r13 scan-parallelism floor (catalog.load_table spread=True)
    must (a) engage only when the input offers fewer row groups than
    cores, (b) never change results. The sf corpus is single-row-group,
    so spread=True plans a RoundRobinPartitioning exchange over the scan;
    SPARK_GRAFT_SCAN_SPREAD=0 forces it off; and the two forms are
    row-identical (order-independence is the engine's contract)."""
    import os

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import (
        _parquet_scan_units,
        load_table,
    )

    units, nbytes = _parquet_scan_units(f"{sf_dir}/documents.parquet")
    assert units >= 1 and nbytes > 0
    spread_df = load_table(spark, sf_dir, "documents", spread=True)
    plain_df = load_table(spark, sf_dir, "documents")
    spread_plan = _plan(spread_df)
    assert "RoundRobinPartitioning" in spread_plan or units >= spark.sparkContext.defaultParallelism
    assert "RoundRobinPartitioning" not in _plan(plain_df)
    os.environ["SPARK_GRAFT_SCAN_SPREAD"] = "0"
    try:
        forced_off = _plan(load_table(spark, sf_dir, "documents", spread=True))
        assert "RoundRobinPartitioning" not in forced_off
    finally:
        os.environ.pop("SPARK_GRAFT_SCAN_SPREAD", None)
    a = sorted(map(tuple, spread_df.select("doc_id").collect()))
    b = sorted(map(tuple, plain_df.select("doc_id").collect()))
    assert a == b


def test_kmeans_partitions_corpus_exactly(spark, sf_dir):
    """Every vector lands in exactly one cluster; ids stay in [0, K);
    squared distances are non-negative."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.clustering import (
        derive_k,
        kmeans_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = derive_k(emb.count())
    asg = kmeans_assignments(emb)
    bad = asg.filter(
        (F.col("cluster_id") < 0) | (F.col("cluster_id") >= k) | (F.col("dist") < 0)
    )
    assert bad.count() == 0
    assert asg.count() == emb.count()
    assert asg.select("vec_id").distinct().count() == emb.count()


def test_kmeans_k_tracks_corpus_size():
    """K = max(MIN, min(N // TARGET, 16*sqrt(N))) — r8. Below the n~4M
    crossover K tracks N/TARGET, so the SemDeDup per-cluster pair bound
    (~TARGET^2/2) is constant and the within-cluster join linear. Above
    it the 16*sqrt(n) cap takes over (FAISS's nlist band): cluster size
    grows as sqrt(n)/16 — the pair join becomes O(n^1.5/16), traded
    deliberately against the UNCAPPED law's O(n^2/125) assignment flops
    and O(n*DIM/125) driver-held centroid state, both of which die long
    before 100 TB (profiled r8: the n x K assignment dominated the sf10
    IVF rung even pre-crossover)."""
    import math

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.clustering import (
        MIN_CLUSTERS,
        TARGET_CLUSTER_SIZE,
        derive_k,
    )

    assert derive_k(500) == MIN_CLUSTERS        # sf0.01 corpus -> floor
    assert derive_k(2000) == 16                 # sf0.1 corpus grows K
    for scale in (1, 100):                      # below the crossover
        n = 2000 * scale
        # expected cluster size bounded by the constant target
        assert n / derive_k(n) <= TARGET_CLUSTER_SIZE
    assert derive_k(10**9) == 16 * math.isqrt(10**9)  # capped regime
    # past the crossover, cluster size grows sqrt-slow, K sqrt-bounded
    n = 2000 * 10_000
    assert derive_k(n) == 16 * math.isqrt(n)
    assert n / derive_k(n) <= math.sqrt(n) / 16 + 1


def test_warehouse_plans(spark, sf_dir):
    q = all_queries()
    # merge_upsert: MERGE-shaped full-outer join; the batch agg must run
    # ONCE (explode of both key variants, not a union of two agg branches)
    # and the orders date filter must reach the parquet scan
    mu = q["merge_upsert"](spark, sf_dir)
    plan = _plan(mu)
    assert "FullOuter" in plan
    assert _scan_count(mu) == 2  # customer once, orders once
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    # doc_chunks: stateless explode, zero exchanges
    plan = _plan(q["doc_chunks"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode
    # ohlc_bars: open/close windows and the final agg share ONE hour
    # exchange (plus AQE's optional final coalesce, which is not hash)
    plan = _plan(q["ohlc_bars"](spark, sf_dir))
    assert plan.count("hashpartitioning") <= 2  # window + reused-by-agg
    # oov_rate: vocabulary joined via broadcast, token stream not shuffled
    # into the join
    plan = _plan(q["oov_rate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # rolling actives: day spine broadcast into the range join
    plan = _plan(q["rolling_7d_actives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_rfm_segments_no_global_single_partition_sort(spark, sf_dir):
    """The r3 rfm plan replaces global ntile windows with range-partitioned
    distributed ranking: no ntile anywhere, the per-row window is
    partitioned by spark_partition_id after a range exchange, and the only
    SinglePartition shuffles carry the P-row per-partition count aggregate
    (one per metric), never base rows."""
    df = all_queries()["rfm_segments"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" in plan.lower()  # the distributed total order
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        # every single-partition shuffle must carry aggregate output (the
        # P-row per-pid counts or a scalar agg), never base-table rows —
        # depth-first print puts the exchange's child on the next line
        if "Exchange SinglePartition" in ln:
            assert "HashAggregate" in lines[i + 1], plan
        # every per-row ranking window is partitioned by the range
        # partition id — no global row_number over the rollup
        if "Window [row_number()" in ln:
            assert "windowspecdefinition(_pid#" in ln, ln


def test_token_pipelines_tokenize_once(spark, sf_dir):
    """bm25/lift downstream plans read the checkpointed per-(doc,term)
    relation, not re-derived token explodes: at most the one auxiliary
    count scan appears downstream (measured 4 and 9 document scans before
    the restructure)."""
    q = all_queries()
    plan = q["bm25_topk_terms"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    plan = q["term_lift_pairs"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1  # the n_docs count only


def test_ivf_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """recall@10 against the brute-force ground truth: probe-2's truth
    hits contain probe-1's (set inclusion, not just counts)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        q_cosine_topk,
        q_ivf_probe2_topk,
        q_ivf_probe_topk,
    )

    truth = {
        (r["q_id"], r["d_id"]) for r in q_cosine_topk(spark, sf_dir).collect()
    }
    p1 = {(r["q_id"], r["d_id"]) for r in q_ivf_probe_topk(spark, sf_dir).collect()}
    p2 = {(r["q_id"], r["d_id"]) for r in q_ivf_probe2_topk(spark, sf_dir).collect()}
    assert (p1 & truth) <= (p2 & truth)
    assert len(p2 & truth) > 0  # the probe finds real neighbors, not noise


def test_ivf_second_probe_finds_planted_cross_list_neighbor(spark):
    """The dial MEASURABLY works: a neighbor planted in the query's
    second-nearest centroid's list is invisible to nprobe=1 and found by
    nprobe=2 — a regression that silently degrades ivf_probe2 to a single
    probe fails here (the generic corpus can't prove this: r2 >= r1 holds
    by construction)."""
    import math

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        ivf_probe2_topk,
        ivf_probe_topk,
    )

    def vec(deg):
        a = math.radians(deg)
        v = [0.0] * 64
        v[0], v[1] = math.cos(a), math.sin(a)
        return [float(x) for x in v]

    def unit(dim):
        v = [0.0] * 64
        v[dim] = 1.0
        return [float(x) for x in v]

    # Learned-centroid geometry (seeds = vec_id < derive_k(9) = 8):
    # seed 0 is the query at 15deg, seed 1 anchors cluster B at 40deg,
    # seeds 2..7 are mutually orthogonal singletons. The planted neighbor
    # (id 8, 28deg) sits 13deg from the query but 12deg from B's seed, so
    # Lloyd's assigns it to B (whose centroid then moves to ~34deg and
    # keeps it). The query's own list holds only itself -> nprobe=1 sees
    # nothing; its second-nearest centroid is B (19deg vs 90deg for the
    # orthogonals) -> nprobe=2 probes B's list and finds the neighbor.
    rows = (
        [(0, vec(15)), (1, vec(40))]
        + [(i, unit(10 + i)) for i in range(2, 8)]
        + [(8, vec(28))]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p1 = {(r["q_id"], r["d_id"]) for r in ivf_probe_topk(df, n_queries=1).collect()}
    p2 = {(r["q_id"], r["d_id"]) for r in ivf_probe2_topk(df, n_queries=1).collect()}
    assert (0, 8) not in p1   # nprobe=1 can't see across lists
    assert (0, 8) in p2       # nprobe=2 probes B's list and finds it


def test_chunk_dedup_is_equi_join_not_pairs(spark, sf_dir):
    """Chunk dedup must generate candidates via the chunk equi-join —
    never a cartesian/nested-loop over documents."""
    plan = _plan(all_queries()["chunk_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_vocab_joins_are_broadcast(spark, sf_dir):
    """The token stream joins the (tiny) vocab log-ratio table broadcast —
    a shuffle of the exploded token stream keyed by word would be the
    scale bug (word frequency is maximally skewed)."""
    plan = _plan(all_queries()["dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_codes_is_zero_shuffle_single_scan(spark, sf_dir):
    """PQ encoding = one scan -> one Arrow pass. Training happens in the
    driver round-trips before this plan exists; the registered encode plan
    must have no join and no exchange, and read embeddings exactly once."""
    df = all_queries()["pq_codes"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert _scan_count(df) == 1


def test_gopher_flags_single_scan(spark, sf_dir):
    """All rule flags are columns of ONE documents scan + one agg."""
    df = all_queries()["gopher_quality_flags"](spark, sf_dir)
    assert _scan_count(df) == 1
    assert "Join" not in _plan(df)


def test_funnel_last_stage_equals_training_corpus(spark, sf_dir):
    """The funnel's near_dedup row is the same gate as training_corpus —
    shared expressions, so the counts can never drift apart."""
    q = all_queries()
    funnel = {r["stage"]: r["n_docs"] for r in q["quality_filter_funnel"](spark, sf_dir).collect()}
    assert funnel["near_dedup"] == q["training_corpus"](spark, sf_dir).count()
    assert (
        funnel["raw"] >= funnel["lang_en"] >= funnel["quality"]
        >= funnel["min_tokens"] >= funnel["near_dedup"]
    )


def test_ann_recall_monotone_in_nprobe_eval(spark, sf_dir):
    """The recall-eval op itself must show the full recall/cost ladder:
    flat@2 >= flat@1 (more lists probed), and flat@2 >= pq@2 — the PQ
    path exact-reranks a SUBSET of flat@2's candidate set (its ADC
    shortlist), and hits against a fixed ground truth are set-monotone
    in the candidate set."""
    rows = {
        (r["variant"], r["nprobe"]): r
        for r in all_queries()["ann_recall_eval"](spark, sf_dir).collect()
    }
    assert rows[("ivf_flat", 2)]["n_hits"] >= rows[("ivf_flat", 1)]["n_hits"]
    assert rows[("ivf_flat", 2)]["n_hits"] >= rows[("ivf_pq", 2)]["n_hits"]
    assert 0.0 <= rows[("ivf_pq", 2)]["recall"] <= 1.0


def test_ivf_pq_equals_flat_when_shortlist_covers_lists(spark, sf_dir):
    """With rerank >= the largest probed-candidate count, the ADC
    shortlist keeps EVERY candidate, so the exact rerank must reproduce
    ivf_flat@same-nprobe exactly — pinning the two halves (ADC ranking,
    exact rerank) together: any drift in code assignment, LUT lookup, or
    shortlist tie-break would break the equality."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table as lt
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        ivf_pq_probe_topk,
        ivf_probe_topk,
    )

    emb = lt(spark, sf_dir, "embeddings")
    n = emb.count()
    flat = {tuple(r) for r in ivf_probe_topk(emb, nprobe=2).collect()}
    pq_all = {tuple(r) for r in ivf_pq_probe_topk(emb, nprobe=2, rerank=n).collect()}
    assert pq_all == flat


def test_substring_dedup_finds_planted_repeated_span(spark):
    """Planted repeated-span check (Lee et al. shape): an 8-token span
    shared by two docs must surface with n_docs=2; a doc-internal repeat
    must NOT (cross-doc contract: n_docs >= 2); unique text yields no
    fingerprints."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.dedup import (
        substring_dedup_spans,
    )

    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, f"intro words then {span} and a tail"),
        (2, f"{span} opens this second document entirely differently"),
        (3, "unique text one two three four five six seven eight nine"),
        # doc-internal repeat only — must not appear (n_docs == 1)
        (4, f"self repeat indigo juliett kilo lima mike november oscar papa "
            f"then indigo juliett kilo lima mike november oscar papa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = substring_dedup_spans(df).collect()
    assert any(r["n_docs"] == 2 and r["first_doc"] == 1 and r["last_doc"] == 2 for r in got)
    # every reported fingerprint is cross-doc
    assert all(r["n_docs"] >= 2 for r in got)
    # doc 4's internal repeat stayed out: all cross-doc spans involve docs 1/2
    assert all(r["first_doc"] == 1 and r["last_doc"] == 2 for r in got)


def test_embedding_near_dups_planted_catches_all_plants(spark, sf_dir):
    """The registered planted variant must emit exactly the PLANT_N
    (original, copy) pairs at smoke scale — non-vacuous evidence the
    multi-probe + verify path CATCHES pairs, not just agrees on empty."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        PLANT_N,
        PLANT_OFFSET,
        q_embedding_near_dups_planted,
    )

    rows = q_embedding_near_dups_planted(spark, sf_dir).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in rows}
    assert {(i, i + PLANT_OFFSET) for i in range(PLANT_N)} <= pairs
    planted = [r for r in rows if r["vec_b"] >= PLANT_OFFSET]
    assert all(r["cosine"] >= 0.999999 for r in planted)


def test_cms_never_undercounts(spark, sf_dir):
    """Count-Min estimates are exact counts plus collision mass — an
    estimate below the exact count means the sketch is broken."""
    rows = all_queries()["cms_heavy_hitters"](spark, sf_dir).collect()
    assert rows
    assert all(r["n_est"] >= r["n_exact"] for r in rows)
    assert all(r["overcount"] == r["n_est"] - r["n_exact"] for r in rows)


def test_hll_error_within_theory(spark, sf_dir):
    """HLL(m=512) standard error is ~4.6%; allow 4 sigma. Also the sketch
    build must never shuffle raw user_ids: the aggregation state is
    bounded by (event_type x 512 registers)."""
    rows = all_queries()["hll_users_per_event_type"](spark, sf_dir).collect()
    assert rows
    assert all(r["rel_err"] <= 0.20 for r in rows)


def test_bloom_never_misses_true_members(spark, sf_dir):
    """A Bloom filter has no false negatives: every exact hit must also be
    a Bloom hit, per source."""
    rows = all_queries()["bloom_prefilter_stats"](spark, sf_dir).collect()
    assert rows
    assert all(r["n_bloom_hits"] >= r["n_exact_hits"] for r in rows)
    assert all(0.0 <= r["fp_rate"] <= 1.0 for r in rows)


def test_pagerank_iterations_are_joins_not_cartesian(spark, sf_dir):
    """Every PageRank iteration must be an equi-join on the src key plus a
    hash-agg on dst — a CartesianProduct or BroadcastNestedLoopJoin would
    mean the join condition was lost."""
    df = all_queries()["pagerank_fixedpoint"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_scores_are_exact_integers_summing_below_scale(spark, sf_dir):
    """Fixed-point truncation only ever LOSES mass: the top-k scores are
    positive BIGINTs and each is below SCALE (no node absorbs everything
    in a symmetric co-purchase graph)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.graphops import PR_SCALE

    rows = all_queries()["pagerank_fixedpoint"](spark, sf_dir).collect()
    assert rows, "pagerank returned no rows"
    for r in rows:
        assert 0 < r.pr_score < PR_SCALE
        assert isinstance(r.pr_score, int)


def test_skyline_phase1_keeps_scan_parallelism(spark, sf_dir):
    """The merge stage must be repartition(1) (a shuffle barrier), never
    coalesce(1) — coalesce propagates upstream and would serialize the
    phase-1 partition-local skylines (the neardup_components r1 bug)."""
    df = all_queries()["skyline_parts"](spark, sf_dir)
    plan = _plan(df)
    assert "Coalesce" not in plan
    assert "Exchange" in plan  # the explicit single-partition shuffle barrier


def test_skyline_is_mutually_non_dominated(spark, sf_dir):
    rows = all_queries()["skyline_parts"](spark, sf_dir).collect()
    assert rows
    pts = [(r.p_retailprice, r.p_size) for r in rows]
    for i, (pa, sa) in enumerate(pts):
        for j, (pb, sb) in enumerate(pts):
            if i != j:
                dominated = pb <= pa and sb <= sa and (pb < pa or sb < sa)
                assert not dominated, f"{pts[j]} dominates {pts[i]}"


def test_zorder_single_shuffle_single_scan(spark, sf_dir):
    df = all_queries()["zorder_bucket_stats"](spark, sf_dir)
    assert _scan_count(df) == 1
    plan = _plan(df)
    # one partial+final hash agg pair over one bucket-key exchange (plus
    # the presentation sort's range exchange)
    assert plan.count("Exchange") <= 4


def test_zorder_envelopes_tighter_than_single_dim_sort(spark, sf_dir):
    """The point of Z-ordering: bucket envelopes are bounded in BOTH dims.
    Verify each bucket's custkey envelope spans at most 2^8 distinct
    residues worth of the 16-bit grid (the macro-cell width) when mapped
    into the Z-grid — i.e. the layout actually localizes both columns."""
    rows = all_queries()["zorder_bucket_stats"](spark, sf_dir).collect()
    assert rows
    cell = 1 << 8
    grid = 1 << 16
    for r in rows:
        # raw values fit the 16-bit grid at test SFs, so min/max of the raw
        # column ARE the masked envelope: a bucket fixes the top 8 bits of
        # both dims, so each envelope sits inside one 256-wide macro-cell
        if r.max_cust < grid:
            assert r.min_cust // cell == r.max_cust // cell, f"bucket {r.zbucket} cust envelope spans cells"
        if r.max_day < grid:
            assert r.min_day // cell == r.max_day // cell, f"bucket {r.zbucket} day envelope spans cells"


def test_pit_join_is_keyed_not_nested_loop(spark, sf_dir):
    """The PIT interval join must hash/sort-merge on user_id with the
    interval predicate as a post-join filter — a nested-loop join means
    the equi-key was lost and every fact scans every version."""
    df = all_queries()["pit_feature_join"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pit_join_matches_at_most_one_version_per_click(spark, sf_dir):
    """SCD2 intervals partition each user's timeline, so the LEFT join
    must preserve click cardinality exactly (no fan-out, no loss)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table

    clicks = load_table(spark, sf_dir, "events").where("event_type = 'click'").count()
    assert all_queries()["pit_feature_join"](spark, sf_dir).count() == clicks


def test_leakage_split_partitions_users_exactly(spark, sf_dir):
    """Splits are user-disjoint and exhaustive: per-split user counts sum
    to the global distinct-user count (a user straddling splits would
    double-count)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table

    rows = all_queries()["leakage_safe_split"](spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == total


def test_pagerank_edgeless_graph_returns_empty_with_schema(spark):
    """An input where no order contains two distinct parts has no graph:
    the operator must return an empty frame with the stable schema, not
    divide by zero."""
    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.graphops import (
        pagerank_fixedpoint,
    )

    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
    ])
    li = spark.createDataFrame([(1, 10), (2, 20)], schema)
    out = pagerank_fixedpoint(li)
    assert out.columns == ["p_partkey", "outdeg", "pr_score"]
    assert out.count() == 0


def test_holt_single_observation_groups_are_excluded(spark):
    """A status with one yearly observation has no trend seed — both the
    Spark plan and the oracle drop it rather than emitting NaN/NULL."""
    from pyspark.sql import types as T

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.analytic import (
        holt_linear_forecast,
    )

    schema = T.StructType([
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    import datetime as dt

    rows = [
        ("O", dt.datetime(1995, 6, 1), 10.0),
        ("O", dt.datetime(1996, 6, 1), 12.0),
        ("F", dt.datetime(1995, 6, 1), 5.0),  # single year -> excluded
    ]
    out = holt_linear_forecast(spark.createDataFrame(rows, schema)).collect()
    assert [r.status for r in out] == ["O"]
    assert out[0].n_years == 2
    # two points, one update step on y1: l1 = 0.5*12 + 0.5*(10+2) = 12,
    # b1 = 0.3*(12-10) + 0.7*2 = 2 -> forecast 14
    assert out[0].level == 12.0 and out[0].trend == 2.0
    assert out[0].forecast_next == 14.0


# --- late-r3 additions: plan guards for the new op batch ------------------

def test_bpe_pair_stats_is_wordcount_shaped(spark, sf_dir):
    """One documents scan, partial+final hash agg (map-side combine), and a
    TakeOrdered top-k — no self-join, no posexplode position join."""
    df = all_queries()["bpe_pair_stats"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert _scan_count(df) == 1
    assert "TakeOrderedAndProject" in tree
    assert "Join" not in tree
    # both partial and final aggregation present = map-side combine active
    assert tree.count("HashAggregate") >= 2


def test_embedding_center_no_explode_single_broadcast(spark, sf_dir):
    """Per-dim sums are 64 literal aggregates over one scan (no N×D
    posexplode row blowup); the 1-row mean attaches by broadcast."""
    df = all_queries()["embedding_center"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in tree          # no explode/posexplode anywhere
    assert "BroadcastNestedLoopJoin" in tree
    assert "SortMergeJoin" not in tree


def test_conversation_assembly_single_user_shuffle(spark, sf_dir):
    """Transcript assembly = one user-keyed exchange; ordering happens
    in-row (sort_array), so no global Sort node below the aggregation."""
    df = all_queries()["conversation_assembly"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert sum(1 for ln in tree.splitlines() if "Exchange hashpartitioning" in ln) == 1
    assert "Join" not in tree


def test_graph_triangle_stats_degree_joins_broadcast(spark, sf_dir):
    """Degree-ordered orientation attaches the tiny (node, deg) relation by
    broadcast on both endpoints — the edge relation itself is never
    sort-merge-joined against the degree table."""
    df = all_queries()["graph_triangle_stats"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in tree


def test_grouped_agg_pandas_is_arrow_aggregation(spark, sf_dir):
    """The UDAF runs as Arrow-batched python aggregation (no row-at-a-time
    BatchEvalPython), and quantization to cents happens JVM-side before the
    Python boundary."""
    df = all_queries()["grouped_agg_pandas"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    # node name drifted across Spark versions: 3.x AggregateInPandas,
    # 4.1 ArrowAggregatePython — both are the Arrow-batched UDAF operator
    assert "AggregateInPandas" in tree or "ArrowAggregatePython" in tree
    assert "BatchEvalPython" not in tree
    # cents quantization (FLOOR) sits below the exchange, JVM-side
    assert "FLOOR" in tree


def test_seasonal_decompose_one_shuffle_then_window(spark, sf_dir):
    """Moments aggregate in one (event_type, hod) exchange with partial
    aggregation; the series-total window adds no extra full-data shuffle
    (it runs over the 120 aggregated rows)."""
    df = all_queries()["seasonal_decompose"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert _scan_count(df) == 1
    assert tree.count("HashAggregate") >= 2
    assert "Window" in tree


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The 100 TB skew story is config + AQE (session.py enables
    spark.sql.adaptive.skewJoin); this asserts the mechanism actually
    fires: a join keyed 90% onto one value, with thresholds scaled down to
    test-data size and broadcast disabled to force SMJ, must execute as
    SortMergeJoin(skew=true) over an AQEShuffleRead-skewed exchange.
    Complements salted_user_totals (the MANUAL skew defense for
    aggregations, where AQE skew handling does not apply)."""
    saved = {}
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4096",
    }
    for k, v in tuned.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 100 < 90, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 5_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("w")
        )
        j = left.join(right, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rank_fusion_pools_are_take_ordered(spark, sf_dir):
    """Each retriever ends in TakeOrderedAndProject (no global Sort of the
    corpus); the only windows run inside the bounded 100-row pools."""
    df = all_queries()["rank_fusion"](spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("TakeOrderedAndProject") >= 2


def test_late_r3_batch4_plan_shapes(spark, sf_dir):
    """gini: two hash aggs, no join; hhi: two hash aggs, no join;
    tolerance dedup: exactly one (user,type) exchange; range-frame sum:
    one user-keyed exchange + a Window, no join."""
    q = all_queries()
    for name in ("token_gini_diversity", "supplier_hhi"):
        tree = q[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in tree, name
        assert tree.count("HashAggregate") >= 2, name
    for name in ("event_dedup_tolerance", "range_frame_daily_sum"):
        tree = q[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in tree, name
        assert (
            sum(1 for ln in tree.splitlines() if "Exchange hashpartitioning" in ln) == 1
        ), name
        assert "Window" in tree, name


# ---------------------------------------------------------------------------
# Repo-wide plan lint (r4): the per-op scale assertions above catch known
# shapes; this walks EVERY registered plan and fails on the anti-patterns
# the r2/r3 fixes retired, so a new op can't silently reintroduce them:
#   (a) CartesianProduct (every crossJoin in the package must broadcast a
#       tiny aggregate → BroadcastNestedLoopJoin);
#   (b) an Exchange SinglePartition whose subtree carries base-table rows
#       — the single-partition shuffle behind global sorts/windows. Legit
#       SP exchanges carry aggregated or limited output (scalar aggs, the
#       P-row offsets relation of distrank.with_global_rank, bounded hour
#       spines), recognized by walking past pass-through nodes (Project/
#       Filter/codegen wrappers) to the first reducing node.
# Documented exemptions only — each entry must say why the SP exchange is
# bounded.
# ---------------------------------------------------------------------------

_SP_REDUCING = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "LocalLimit",
    "TakeOrderedAndProject",
)
_SP_PASSTHROUGH = ("Project", "Filter", "ColumnarToRow", "InputAdapter", "WholeStageCodegen")

# Python kernels can't be recognized as reducing from the node type alone,
# so the lint carries a NAMING CONTRACT instead of per-query exemptions: a
# MapInPandas child satisfies the SP-exchange check ONLY when its kernel
# function is named `*_reduce` — an explicit in-code assertion (next to the
# kernel, reviewed with it) that the operator's output is row-count-bounded
# (e.g. skyline_local_reduce emits <= |skyline| rows per partition). The
# name surfaces verbatim in the executed plan, so the contract is machine-
# checked here and greppable at the definition site.
_SP_REDUCING_KERNEL = re.compile(r"MapInPandas \w*_reduce\(")

_PLAN_LINT_EXEMPT: set = set()  # r5: empty — keep it that way


def _lint_plan(tree: str) -> list:
    viols = []
    if "CartesianProduct" in tree:
        viols.append("CartesianProduct")
    lines = tree.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        j = i + 1
        while j < len(lines) and any(
            p in lines[j] for p in _SP_PASSTHROUGH
        ) and not any(r in lines[j] for r in _SP_REDUCING):
            j += 1
        child = lines[j] if j < len(lines) else ""
        if not any(r in child for r in _SP_REDUCING) and not _SP_REDUCING_KERNEL.search(
            child
        ):
            viols.append("single-partition exchange over: " + child.strip()[:100])
    return viols


def test_plan_lint_all_registered_queries(spark, sf_dir):
    """Lints BOTH the final plan of every registered query AND every
    pre-materialization plan routed through pin() (lineage truncation
    would otherwise hide a pinned subcomputation's anti-patterns behind a
    bare Scan ExistingRDD/parquet node). Known residual blind spot:
    eagerly-built intermediates that do NOT pass through pin() (k-means
    driver round-trips, loop-internal localCheckpoints) — those are
    covered by their modules' per-op assertions, not this walk."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators import pin as pinmod

    bad = {}
    for name, fn in all_queries().items():
        if name in _PLAN_LINT_EXEMPT:
            continue
        pinmod._LINT_CAPTURE = []
        try:
            tree = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            captured = list(pinmod._LINT_CAPTURE)
        finally:
            pinmod._LINT_CAPTURE = None
        viols = _lint_plan(tree)
        for label, sub in captured:
            viols += [f"pin:{label} -> {v}" for v in _lint_plan(sub)]
        if viols:
            bad[name] = viols
    assert not bad, bad


def test_vectorized_assignment_matches_window_path(spark, sf_dir):
    """The r8 Arrow-vectorized corpus assignment must make the
    BIT-IDENTICAL decision the join+window form makes for every vector —
    same dim-sequential IEEE fold, same floor-rounding, same
    lowest-c-id tie-break. This is the no-drift pin that lets
    ivf_assignments skip the n×K scored relation (168.6 s of the sf10
    ivf_pq rung) without forking the scoring convention."""
    from pyspark.sql import functions as F

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        _centroid_topn,
        _learned_centroids,
        _norm,
        ivf_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _learned_centroids(emb)
    fast = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assignments(emb, cents).collect()
    }
    vecs = emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("v_norm"))
    slow = {
        r["vec_id"]: r["centroid_id"]
        for r in _centroid_topn(cents, vecs, 1).collect()
    }
    assert len(fast) == len(slow) > 0
    assert fast == slow


def test_ivf_pq_default_rerank_scales_with_nprobe(spark, sf_dir):
    """The r9 sizing law, pinned: ivf_pq_probe_topk's DEFAULT exact-rerank
    budget is IVFPQ_RERANK per probed list (a fixed window measurably
    LOSES recall as nprobe grows — BENCH_NOTES r9). Pinned by equality:
    the default at nprobe=2 must reproduce an explicit rerank of
    IVFPQ_RERANK*2 exactly, and must differ from the old fixed window
    whenever the extra shortlist changes the top-k (checked on the real
    corpus so the pin can't pass vacuously)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table as lt
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.similarity import (
        IVFPQ_RERANK,
        ivf_pq_probe_topk,
    )

    emb = lt(spark, sf_dir, "embeddings")
    default = {tuple(r) for r in ivf_pq_probe_topk(emb, nprobe=2).collect()}
    explicit = {
        tuple(r)
        for r in ivf_pq_probe_topk(emb, nprobe=2, rerank=IVFPQ_RERANK * 2).collect()
    }
    assert default == explicit
