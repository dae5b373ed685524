"""Deterministic k-means core, shared by `clustering` (kmeans_clusters /
semdedup_candidates) and `similarity` (the IVF coarse quantizer — r3
composes learned centroids into the inverted-file index instead of a
vec_id-subset placeholder).

The construction (see clustering.py for the full rationale): seeds = the
first K vectors, one Lloyd's recompute step, centroids live driver-side
(K x DIM doubles) and each distributed pass is one scan. Embeddings are
quantized to micro-unit BIGINTs so centroid SUMS are exact integers —
order-independent across any cluster layout and bit-equal to the DuckDB
oracle's sums; the single IEEE division per (cluster, dim) then yields
identical centroid doubles in both engines.

K derives from corpus size: K = max(MIN_CLUSTERS, N // TARGET_CLUSTER_SIZE),
keeping the expected cluster size (and every downstream per-cluster bound)
constant as the corpus grows; the oracle derives the same K with a scalar
subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dimfold import sqdist_block

MIN_CLUSTERS = 8
TARGET_CLUSTER_SIZE = 125
K_SQRT_CAP = 16           # K <= 16*sqrt(n): FAISS's nlist guidance band
KMEANS_DIM = 64           # embedding dimensionality (testdata contract)
_QUANT = 1000000.0        # micro-unit quantization scale
_QUANT2 = _QUANT * _QUANT


def derive_k(n: int) -> int:
    """Cluster count for an n-vector corpus: cluster size ~ TARGET,
    CAPPED at 16·√n (r8). Uncapped, K = n/125 makes the assignment pass
    O(n²/125) flops and the driver-held centroid state O(n·DIM/125) —
    both quadratic-era costs that die long before 100 TB (profiled this
    round: the n×K assignment was 168 s of the sf10 IVF-PQ rung even
    before K growth bites). 16·√n is the top of FAISS's published nlist
    band (4√n..16√n): assignment becomes O(n^1.5), driver centroid
    state O(√n·DIM), and probed-list sizes grow √n instead of staying
    fixed — the trade every production IVF deployment makes. The cap
    binds only above n ≈ 4M (16√n = n/125 at n = 4,000,000), so every
    tested rung (n ≤ 200k) derives the identical K and no oracle result
    moves; the law is pinned by test_derive_k_sqrt_cap."""
    return max(MIN_CLUSTERS, min(n // TARGET_CLUSTER_SIZE, K_SQRT_CAP * _isqrt(n)))


def _isqrt(n: int) -> int:
    import math

    return math.isqrt(n)


# the SQL twin re-derives the same K from count(*). floor(sqrt(n)) in
# DOUBLE can differ from exact isqrt only for n near perfect squares
# above 2^52 — far beyond any count this engine's oracles run at, and
# below the n≈4M crossover the least() arm selects n//125 regardless.
SQL_DERIVE_K = (
    f"(SELECT greatest({MIN_CLUSTERS}, least(count(*) // {TARGET_CLUSTER_SIZE}, "
    f"{K_SQRT_CAP} * CAST(floor(sqrt(count(*))) AS BIGINT))) FROM embeddings)"
)


def _quantized(embeddings: DataFrame) -> DataFrame:
    """(vec_id, qe): embedding quantized to exact micro-unit BIGINTs."""
    return embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(_QUANT) + F.lit(0.5)).cast("long"),
        ).alias("qe"),
    )


def _assign(quant: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Zero-shuffle argmin assignment against driver-held centroids.

    Arrow-vectorized mapInPandas (r3 — was a K-literal struct/array_min
    expression tree: Spark's higher-order array functions are
    CodegenFallback, and at derived K the K x DIM interpreted fold plus the
    Catalyst build of a ~K*DIM-node tree dominated the whole query). The
    numpy loop is vectorized ACROSS rows but sequential ACROSS dimensions
    (acc = acc + d_i * d_i in array order, float64) — the exact IEEE op
    order of the JVM `aggregate` fold and DuckDB's list_reduce, so dist is
    bit-identical to the oracle. np.argmin takes the FIRST minimum and the
    centroid rows are sorted by cluster id, so ties resolve to the lowest
    cluster id — same order as the oracle's row_number() OVER
    (ORDER BY dist, cluster). No join, no shuffle: centroids ride the
    closure (K x DIM doubles) to every task.
    """
    cents = sorted((int(cid), [float(v) for v in ce]) for cid, ce in centroids)
    cids = [c for c, _ in cents]
    cmat = [ce for _, ce in cents]

    def assign_batches(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)  # (K, DIM)
        ids = np.asarray(cids, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # r8: accumulate over ALL centroids per dim step ((N, K) block
            # math — 64 numpy ops instead of K×64) with per-chunk row
            # bounds; each element's accumulation order is still the dim-
            # sequential fold, so dist stays bit-identical to the oracle
            for lo in range(0, len(pdf), 4096):
                chunk = pdf.iloc[lo : lo + 4096]
                Q = np.stack(chunk["qe"].to_numpy()).astype(np.float64)  # (N, DIM)
                dists = sqdist_block(Q, C)
                best = np.argmin(dists, axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": chunk["vec_id"].to_numpy(),
                        "qe": chunk["qe"],
                        "cluster_id": ids[best].astype(np.int32),
                        "dist": dists[np.arange(len(chunk)), best],
                    }
                )

    return quant.mapInPandas(
        assign_batches, "vec_id long, qe array<bigint>, cluster_id int, dist double"
    )


# Process-level training memo (see buildcache.py for the keying rules).
# Before this, every IVF/clustering query build re-ran the identical
# 3-round-trip training (6+ builds per sweep at ~1 s each). Kill switch:
# SPARK_GRAFT_BUILD_CACHE=0.
_CENTROID_CACHE: dict = {}


def _corpus_key(embeddings: DataFrame):
    from .buildcache import corpus_key

    return corpus_key(embeddings)


def _train_spaces(
    quant: DataFrame, jobs: list[tuple[int, int, list[tuple[int, list[float]]]]]
) -> list[list[tuple[int, list[float]]]]:
    """One Lloyd recompute step for SEVERAL dimension windows of the SAME
    quantized scan in ONE distributed job (opt r14, guide §1.2/§2.4: the
    per-subspace seeds/assign/sums round-trips of the PQ training each
    re-scanned the corpus; batching all subspaces' assignment + partial
    centroid sums into one Arrow pass collapses 2 jobs per space to 2
    jobs total).

    jobs: [(lo, dim, c0)] — c0 = sorted [(cluster_id, dim seed doubles)].
    Returns per job the recomputed centroids [(cluster_id, dim means)],
    bit-identical to the old per-space path: the kernel makes the exact
    _assign decision per space (dim-sequential float64 accumulation over
    the window's columns, first-min argmin over cluster-id-sorted rows)
    and emits exact-integer PARTIAL sums (int64 — the same values the old
    posexplode/groupBy shuffled; integer addition is associative, so
    partials-then-sum equals the single sum); the one IEEE division per
    (cluster, dim) happens driver-side as before."""
    kjobs = [
        (
            int(lo),
            int(dim),
            [c for c, _ in c0],
            [ce for _, ce in c0],
        )
        for lo, dim, c0 in jobs
    ]

    def sums_kernel(batches):
        import numpy as np
        import pandas as pd

        mats = [
            (lo, dim, np.asarray(cids, dtype=np.int64), np.asarray(cmat, dtype=np.float64))
            for lo, dim, cids, cmat in kjobs
        ]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for blo in range(0, len(pdf), 4096):
                chunk = pdf.iloc[blo : blo + 4096]
                Qi = np.stack(chunk["qe"].to_numpy())  # (N, DIM) int64 — exact
                Qf = Qi.astype(np.float64)
                out_space, out_cluster, out_pos, out_s, out_c = [], [], [], [], []
                for si, (lo, dim, cids, C) in enumerate(mats):
                    # dim-sequential (N, K) accumulation — the _assign fold
                    dists = sqdist_block(Qf[:, lo : lo + dim], C)
                    best = np.argmin(dists, axis=1)  # first min = lowest cid
                    Qw = Qi[:, lo : lo + dim]
                    for bi in np.unique(best):
                        rows = Qw[best == bi]
                        out_space.append(np.full(dim, si, dtype=np.int32))
                        out_cluster.append(np.full(dim, cids[bi], dtype=np.int64))
                        out_pos.append(np.arange(dim, dtype=np.int32))
                        out_s.append(rows.sum(axis=0, dtype=np.int64))
                        out_c.append(np.full(dim, len(rows), dtype=np.int64))
                yield pd.DataFrame(
                    {
                        "space": np.concatenate(out_space),
                        "cluster_id": np.concatenate(out_cluster),
                        "pos": np.concatenate(out_pos),
                        "s": np.concatenate(out_s),
                        "c": np.concatenate(out_c),
                    }
                )

    sums = (
        quant.mapInPandas(
            sums_kernel, "space int, cluster_id long, pos int, s long, c long"
        )
        .groupBy("space", "cluster_id", "pos")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .collect()
    )
    by_space: dict[int, dict[int, dict[int, float]]] = {}
    for r in sums:
        # exact-integer sum divided once in IEEE double — same bits as the
        # oracle's CAST(s AS DOUBLE) / CAST(c AS DOUBLE)
        by_space.setdefault(int(r["space"]), {}).setdefault(int(r["cluster_id"]), {})[
            int(r["pos"])
        ] = float(r["s"]) / float(r["c"])
    out: list[list[tuple[int, list[float]]]] = []
    for si in range(len(jobs)):
        by_cluster = by_space.get(si, {})
        out.append(
            sorted(
                (cid, [dims[p] for p in range(len(dims))])
                for cid, dims in by_cluster.items()
            )
        )
    return out


def kmeans_centroids(
    embeddings: DataFrame, k: int | None = None
) -> list[tuple[int, list[float]]]:
    """Learned centroids [(cluster_id, K x DIM means in quantized units)]:
    seeds = first k vectors, one exact-integer recompute step. Three driver
    round-trips (corpus count for derived K, seeds, K x DIM sums) — the
    standard iterative-clustering driver pattern; every distributed pass is
    one scan with map-side partial aggregation. Memoized per backing file
    set (see _CENTROID_CACHE note)."""
    ckey = _corpus_key(embeddings)
    if k is None:
        if ckey is not None and (ckey, "n") in _CENTROID_CACHE:
            n = _CENTROID_CACHE[(ckey, "n")]
        else:
            n = embeddings.count()
            if ckey is not None:
                from .buildcache import memo_put

                memo_put(_CENTROID_CACHE, (ckey, "n"), n)
        k = derive_k(n)
    if ckey is not None and (ckey, k) in _CENTROID_CACHE:
        return _CENTROID_CACHE[(ckey, k)]
    quant = _quantized(embeddings)
    seeds = quant.filter(F.col("vec_id") < k).collect()
    c0 = sorted((int(r["vec_id"]), [float(v) for v in r["qe"]]) for r in seeds)
    dim = len(c0[0][1]) if c0 else 0
    out = _train_spaces(quant, [(0, dim, c0)])[0]
    if ckey is not None:
        from .buildcache import memo_put

        memo_put(_CENTROID_CACHE, (ckey, k), out)
    return out


def kmeans_centroids_spaces(
    embeddings: DataFrame, spaces: list[tuple[int, int | None, int | None]]
) -> list[list[tuple[int, list[float]]]]:
    """kmeans_centroids for SEVERAL dimension windows of one corpus with
    ONE shared seeds collect + ONE shared sums job (opt r14 — the IVF-PQ
    build previously ran 2 jobs per subspace plus 3 for the coarse
    quantizer, every one a full corpus scan).

    spaces: [(lo, dim, k)] — dim None = full width (resolved from the
    seed rows), k None = derive_k(count) (full-width spaces only; the
    count memo/job is shared with kmeans_centroids). Each space's result
    is bit-identical to kmeans_centroids on the corresponding slice, and
    is memoized under the SAME key that slice would use — so this trainer
    and the per-space one interoperate through one cache."""
    from .buildcache import memo_put

    ckey_full = _corpus_key(embeddings)
    # resolve derived K once (full-width spaces only, by construction)
    ks: list[int] = []
    n: int | None = None
    for lo, dim, k in spaces:
        if k is None:
            assert lo == 0 and dim is None, "derived K is full-width only"
            if n is None:
                if ckey_full is not None and (ckey_full, "n") in _CENTROID_CACHE:
                    n = _CENTROID_CACHE[(ckey_full, "n")]
                else:
                    n = embeddings.count()
                    if ckey_full is not None:
                        memo_put(_CENTROID_CACHE, (ckey_full, "n"), n)
            k = derive_k(n)
        ks.append(int(k))
    # memo lookup per space, under the exact key the sliced-df path uses
    keys = []
    for (lo, dim, _), k in zip(spaces, ks):
        if dim is None:
            keys.append((ckey_full, k) if ckey_full is not None else None)
        else:
            sub = embeddings.select(
                "vec_id", F.slice(F.col("embedding"), lo + 1, dim).alias("embedding")
            )
            skey = _corpus_key(sub)
            keys.append((skey, k) if skey is not None else None)
    results: list = [
        _CENTROID_CACHE[key] if key is not None and key in _CENTROID_CACHE else None
        for key in keys
    ]
    missing = [i for i, r in enumerate(results) if r is None]
    if missing:
        quant = _quantized(embeddings)
        maxk = max(ks[i] for i in missing)
        seeds = quant.filter(F.col("vec_id") < maxk).collect()
        rows = sorted((int(r["vec_id"]), [float(v) for v in r["qe"]]) for r in seeds)
        full_dim = len(rows[0][1]) if rows else 0
        jobs = []
        for i in missing:
            lo, dim, _ = spaces[i]
            dim = full_dim if dim is None else dim
            c0 = [(vid, qe[lo : lo + dim]) for vid, qe in rows if vid < ks[i]]
            jobs.append((lo, dim, c0))
        trained = _train_spaces(quant, jobs)
        for i, out in zip(missing, trained):
            results[i] = out
            if keys[i] is not None:
                memo_put(_CENTROID_CACHE, keys[i], out)
    return results


def kmeans_assignments(embeddings: DataFrame, k: int | None = None) -> DataFrame:
    """(vec_id, cluster_id, dist): final assignment against the learned
    centroids — a zero-shuffle literal-centroid projection."""
    return _assign(_quantized(embeddings), kmeans_centroids(embeddings, k))


def kmeans_cte() -> str:
    """DuckDB twin of the whole construction, as a WITH-clause body ending
    in a1 (per-vector final assignment) and c1 (learned centroids)."""
    dist = (
        f"list_reduce(list_transform(range(1, {KMEANS_DIM + 1}), "
        f"i -> (CAST(qe[i] AS DOUBLE) - {{ce}}[i]) * (CAST(qe[i] AS DOUBLE) - {{ce}}[i])), "
        f"(acc, x) -> acc + x)"
    )
    return f"""
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_QUANT} + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cluster, list_transform(qe, v -> CAST(v AS DOUBLE)) AS ce
  FROM q WHERE vec_id < {SQL_DERIVE_K}
),
d0 AS (
  SELECT q.vec_id, c0.cluster, {dist.format(ce='ce')} AS dist FROM q, c0
),
a0 AS (
  SELECT vec_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d0) t
  WHERE rn = 1
),
sums AS (
  SELECT a0.cluster, t.i, sum(q.qe[t.i]) AS s, count(*) AS c
  FROM q JOIN a0 USING (vec_id), range(1, {KMEANS_DIM + 1}) t(i)
  GROUP BY a0.cluster, t.i
),
c1 AS (
  SELECT cluster, list(CAST(s AS DOUBLE) / CAST(c AS DOUBLE) ORDER BY i) AS ce
  FROM sums GROUP BY cluster
),
d1 AS (
  SELECT q.vec_id, c1.cluster, {dist.format(ce='ce')} AS dist FROM q, c1
),
a1 AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d1) t
  WHERE rn = 1
)"""


def kmeans_sub_cte(sfx: str, lo: int, dim: int, k: int) -> str:
    """Per-subspace k-means CTE chain for product quantization: same
    seeds-then-one-Lloyd-step construction as kmeans_cte(), but over the
    dimension window qe[lo+1 .. lo+dim] of the shared `q` CTE, with all
    names suffixed `_sfx` and a FIXED k (a PQ codebook's size is a bit-
    budget constant — 4-bit codes here — not a corpus-size function like
    the coarse quantizer's K). Ends in a1_sfx(vec_id, cluster, dist)."""
    dist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> (CAST(qe[{lo} + i] AS DOUBLE) - {{ce}}[i]) * (CAST(qe[{lo} + i] AS DOUBLE) - {{ce}}[i])), "
        f"(acc, x) -> acc + x)"
    )
    return f"""
c0_{sfx} AS (
  SELECT vec_id AS cluster,
         list_transform(qe[{lo + 1}:{lo + dim}], v -> CAST(v AS DOUBLE)) AS ce
  FROM q WHERE vec_id < {k}
),
d0_{sfx} AS (
  SELECT q.vec_id, c0_{sfx}.cluster, {dist.format(ce='ce')} AS dist FROM q, c0_{sfx}
),
a0_{sfx} AS (
  SELECT vec_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d0_{sfx}) t
  WHERE rn = 1
),
sums_{sfx} AS (
  SELECT a0_{sfx}.cluster, t.i, sum(q.qe[{lo} + t.i]) AS s, count(*) AS c
  FROM q JOIN a0_{sfx} USING (vec_id), range(1, {dim + 1}) t(i)
  GROUP BY a0_{sfx}.cluster, t.i
),
c1_{sfx} AS (
  SELECT cluster, list(CAST(s AS DOUBLE) / CAST(c AS DOUBLE) ORDER BY i) AS ce
  FROM sums_{sfx} GROUP BY cluster
),
d1_{sfx} AS (
  SELECT q.vec_id, c1_{sfx}.cluster, {dist.format(ce='ce')} AS dist FROM q, c1_{sfx}
),
a1_{sfx} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d1_{sfx}) t
  WHERE rn = 1
)"""
