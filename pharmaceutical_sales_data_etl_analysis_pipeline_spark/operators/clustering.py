"""Embedding clustering + semantic dedup (SemDeDup-shaped) over `embeddings`.

`kmeans_clusters` is deterministic Lloyd's: seeds = the first K vectors,
one centroid-recompute step, final assignment. The MLlib-KMeans execution
shape — centroids live on the driver (K x DIM doubles, tiny at any corpus
size) and each iteration is ONE distributed scan:

- assignment is a zero-shuffle projection (centroid literals are compiled
  into the plan; argmin = array_min over K (dist, cluster) structs),
- centroid recompute is posexplode -> groupBy(cluster, dim) with map-side
  partial aggregation, so the shuffle carries only K*DIM rows per input
  partition regardless of corpus size.

Cross-engine determinism (the whole point of the construction):

- embeddings are quantized to micro-unit BIGINTs (floor(x*1e6 + 0.5)) so
  per-dimension centroid SUMS are exact integers — order-independent on
  any cluster layout AND equal to DuckDB's sums bit-for-bit;
- centroid means are one IEEE division double(S)/double(C) (S < 2^53
  holds through ~9e9 vectors at |x|<=1; beyond that switch the sum to
  DECIMAL), identical in both engines;
- squared distances are left-to-right folds in array order — per-row,
  never split across partitions — matching DuckDB's list_reduce exactly;
- argmin ties break to the lowest cluster id on both sides.

`semdedup_candidates` is the SemDeDup scale shape (Abbas et al. 2023,
arXiv:2303.09540): pairwise cosine ONLY within a k-means cluster — the
quadratic work is bounded by cluster size, never all-pairs; at 100 TB,
K grows with the corpus (~N/target_cluster_size) so per-cluster pair
counts stay constant and the pair join is a plain shuffle join on
cluster_id with AQE handling skewed clusters. Emitted as the top
SEMDEDUP_TOP_PAIRS most-similar pairs per cluster (the rows a threshold
pass would drop first) so the operator is value-checkable on corpora
with no pairs above a fixed threshold.

Reference parity anchor: the reference has no clustering; this extends the
warehouse the same way its summary-fact step does (CTAS over a computed
grouping, LoadDataWarehouse.ChatterjeeP.R:90-104) to the embedding column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import round_half_up
from .dimfold import cosine_grid, dot_block, dots
from .pyworker import ready
from .kmeans_core import (  # noqa: F401  (re-exported for tests/callers)
    KMEANS_DIM,
    MIN_CLUSTERS,
    TARGET_CLUSTER_SIZE,
    _QUANT2,
    derive_k,
    kmeans_assignments,
    kmeans_cte,
)

SEMDEDUP_TOP_PAIRS = 3


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg = kmeans_assignments(load_table(spark, sf_dir, "embeddings"))
    return asg.select(
        "vec_id",
        F.col("cluster_id").cast("int").alias("cluster_id"),
        # back to original units: micro^2 / 1e12, rounded on the same grid
        round_half_up(F.col("dist") / F.lit(_QUANT2), 6).alias("dist"),
    )


SQL_KMEANS_CLUSTERS = f"""
WITH {kmeans_cte()}
SELECT vec_id, CAST(cluster AS INT) AS cluster_id,
       floor(dist / {_QUANT2} * 1000000.0 + 0.5) / 1000000.0 AS dist
FROM a1
"""


def semdedup_candidates(
    embeddings: DataFrame, top_pairs: int = SEMDEDUP_TOP_PAIRS
) -> DataFrame:
    """Per-cluster most-similar pairs: pairwise exact cosine restricted to
    each k-means cluster, top `top_pairs` per cluster by (cosine desc,
    vec_a, vec_b). The within-cluster restriction is what makes semantic
    dedup sub-quadratic at corpus scale."""
    asg = kmeans_assignments(embeddings).select("vec_id", "cluster_id")
    vecs = embeddings.join(asg, "vec_id").select("vec_id", "cluster_id", "embedding")

    # r13 (guide §2.3 "shuffle keys and metadata instead of payloads",
    # §4.2): the old plan materialized every within-cluster PAIR through a
    # self-join — each embedding crossed the exchange once per partner and
    # the per-pair cosine ran as interpreted zip_with/aggregate folds.
    # Replacing just the folds with an Arrow pass over the pair join
    # measured WORSE (1.28x): the pair rows carry two embeddings each, so
    # the Python boundary shipped the payload quadratically. This shape
    # ships each vector ONCE (groupBy cluster_id -> applyInPandas), forms
    # the m x m cosine matrix per cluster in numpy with dim-sequential
    # accumulation (acc = acc + x_a[d]*x_b[d] per element — the EXACT IEEE
    # op order of the old per-pair fold and of the oracle's list_reduce;
    # the diagonal gives the norms, same op sequence as _norm), rounds on
    # the shared floor(x*1e9+0.5)/1e9 grid, and emits only the top
    # `top_pairs` per cluster under the same deterministic total order
    # (cosine desc, vec_a asc, vec_b asc). Per-cluster work is bounded by
    # the derived cluster size (the SemDeDup contract), so the kernel's
    # m x m block stays small at any corpus scale; accumulation is blocked
    # over rows to bound memory for outlier clusters.
    def cluster_topk(pdf):
        ready()
        import numpy as np
        import pandas as pd

        m = len(pdf)
        empty = pd.DataFrame(
            {
                "cluster_id": pd.array([], dtype="int32"),
                "vec_a": pd.array([], dtype="int64"),
                "vec_b": pd.array([], dtype="int64"),
                "cosine": pd.array([], dtype="float64"),
                "rnk": pd.array([], dtype="int32"),
            }
        )
        if m < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="mergesort")
        ids = pdf["vec_id"].to_numpy()[order]
        cid = int(pdf["cluster_id"].iloc[0])
        X = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt(dots(X, X))  # the _norm fold
        # running top-k across blocks (opt r14, guide §5 / r13 VERDICT
        # ask #2): selecting the block's own top `top_pairs` and merging
        # with the carried winners keeps memory O(block·m + top_pairs)
        # instead of buffering all m(m-1)/2 pair arrays — a pathological
        # outlier cluster can no longer OOM the Python worker. Exact: the
        # order (cosine desc, vec_a, vec_b) is total (pairs are unique),
        # so top-k of (top-k per block) = global top-k.
        kk = int(top_pairs)
        va = np.empty(0, dtype=np.int64)
        vb = np.empty(0, dtype=np.int64)
        cos = np.empty(0, dtype=np.float64)
        for lo in range(0, m, 1024):
            hi = min(lo + 1024, m)
            D = dot_block(X[lo:hi], X)
            va_blk, vb_blk, cos_blk = [va], [vb], [cos]
            for i in range(lo, hi):
                if i + 1 >= m:
                    continue
                va_blk.append(np.full(m - i - 1, ids[i], dtype=np.int64))
                vb_blk.append(ids[i + 1 :])
                cos_blk.append(cosine_grid(D[i - lo, i + 1 :], nrm[i], nrm[i + 1 :]))
            va_c = np.concatenate(va_blk)
            vb_c = np.concatenate(vb_blk)
            cos_c = np.concatenate(cos_blk)
            # deterministic total order: cosine desc, vec_a asc, vec_b asc
            sel = np.lexsort((vb_c, va_c, -cos_c))[:kk]
            va, vb, cos = va_c[sel], vb_c[sel], cos_c[sel]
        return pd.DataFrame(
            {
                "cluster_id": np.full(len(va), cid, dtype=np.int32),
                "vec_a": va,
                "vec_b": vb,
                "cosine": cos,
                "rnk": np.arange(1, len(va) + 1, dtype=np.int32),
            }
        )

    return vecs.groupBy("cluster_id").applyInPandas(
        cluster_topk,
        "cluster_id int, vec_a long, vec_b long, cosine double, rnk int",
    )


def q_semdedup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_candidates(load_table(spark, sf_dir, "embeddings"))


SQL_SEMDEDUP_CANDIDATES = f"""
WITH {kmeans_cte()},
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
norms AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(e, x -> x * x), (acc, x) -> acc + x)) AS nrm
  FROM base
),
pairs AS (
  SELECT CAST(pa.cluster AS INT) AS cluster_id, pa.vec_id AS vec_a, pb.vec_id AS vec_b,
         floor((list_reduce(list_transform(range(1, {KMEANS_DIM + 1}), i -> a.e[i] * b.e[i]),
                            (acc, x) -> acc + x)
                / (na.nrm * nb.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM a1 pa
  JOIN a1 pb ON pa.cluster = pb.cluster AND pa.vec_id < pb.vec_id
  JOIN base a ON a.vec_id = pa.vec_id
  JOIN base b ON b.vec_id = pb.vec_id
  JOIN norms na ON na.vec_id = pa.vec_id
  JOIN norms nb ON nb.vec_id = pb.vec_id
)
SELECT cluster_id, vec_a, vec_b, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY cosine DESC, vec_a ASC, vec_b ASC) AS rnk
  FROM pairs
) t
WHERE rnk <= {SEMDEDUP_TOP_PAIRS}
"""


QUERIES = {
    "kmeans_clusters": q_kmeans_clusters,
    "semdedup_candidates": q_semdedup_candidates,
}

ORACLES = {
    "kmeans_clusters": SQL_KMEANS_CLUSTERS,
    "semdedup_candidates": SQL_SEMDEDUP_CANDIDATES,
}


# ---------------------------------------------------------------------------
# Supervised embedding evaluation: cluster-label purity — r3

def cluster_label_purity(embeddings: DataFrame) -> DataFrame:
    """Per-cluster label purity: how well unsupervised k-means structure
    recovers the labeled classes — the standard supervised health check
    for an embedding space before it's trusted for semantic dedup or
    retrieval (a purity near 1/|labels| means the embeddings carry no
    class signal and SemDeDup pruning is random).

    Integer-exact by construction: n_total / n_majority are counts, the
    majority label ties break to the lowest label id, and purity is ONE
    double division of exact integers (identical in any engine). The
    per-(cluster,label) contingency agg is map-side combined; the window
    runs over K x |labels| rows — tiny at any corpus size.
    """
    asg = kmeans_assignments(embeddings).select("vec_id", "cluster_id")
    cont = (
        embeddings.select("vec_id", "label")
        .join(asg, "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("cnt"), F.asc("label"))
    return (
        cont.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_total"),
            F.max(F.when(F.col("rn") == 1, F.col("cnt"))).cast("long").alias("n_majority"),
            F.max(F.when(F.col("rn") == 1, F.col("label"))).cast("int").alias("majority_label"),
        )
        .select(
            F.col("cluster_id").cast("int").alias("cluster_id"),
            "n_total",
            "n_majority",
            "majority_label",
            (F.col("n_majority").cast("double") / F.col("n_total").cast("double")).alias("purity"),
        )
        .orderBy("cluster_id")
    )


def q_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_label_purity(load_table(spark, sf_dir, "embeddings"))


SQL_CLUSTER_LABEL_PURITY = f"""
WITH {kmeans_cte()},
cont AS (
  SELECT CAST(a1.cluster AS INT) AS cluster_id, e.label, CAST(count(*) AS BIGINT) AS cnt
  FROM a1 JOIN embeddings e ON e.vec_id = a1.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY cnt DESC, label ASC) AS rn
  FROM cont
)
SELECT cluster_id,
       CAST(sum(cnt) AS BIGINT) AS n_total,
       CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS n_majority,
       CAST(max(CASE WHEN rn = 1 THEN label END) AS INT) AS majority_label,
       CAST(max(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
         / CAST(sum(cnt) AS DOUBLE) AS purity
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id
"""

QUERIES["cluster_label_purity"] = q_cluster_label_purity
ORACLES["cluster_label_purity"] = SQL_CLUSTER_LABEL_PURITY
