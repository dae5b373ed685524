"""Similarity search over `embeddings.embedding` (array<float>, 64-dim).

Baseline: brute-force cosine top-k — broadcast the (tiny) query set, one
narrow pass over the corpus computing dot products with array-native
`zip_with` + `aggregate` folds (no explode, no position join, no shuffle
until the final per-query top-k). Accumulation is a left-to-right IEEE
double fold in array-element order — bit-identical on any cluster layout
(the fold is per-row, never split across partitions) AND in the DuckDB
oracle, whose `list_reduce` performs the same sequential fold.

Scale path: sign-LSH (random-hyperplane) bucketing. Hyperplane weights are
md5-derived ±1 constants — computed ONCE at plan-build time into literal
arrays (the oracle re-derives them with md5 in SQL; same values). Bucket
assignment is therefore a zero-shuffle projection; ANN top-k probes only
the query's bucket (equi-join on bucket id) instead of scanning the corpus.

At 100 TB: the brute-force variant is scan + broadcast join + window top-k
(skew across only n_queries keys — acceptable for small query sets; salt
q_id for large ones); the LSH variant turns the scan into an equi-join on
bucket signature with AQE skew handling.
"""

from __future__ import annotations

import hashlib
import math as _math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import round_half_up
from .dimfold import cosine_grid, dot_block, dots, grid, sqdist_block

N_QUERIES = 5     # vec_id < 5 are the query vectors
TOP_K = 10
DIM = 64          # embedding dimensionality (testdata contract)

LSH_PLANES = 8    # sign-LSH signature bits
# cosine_topk ships its query block in every task closure: at most this
# many rows are collected (512 KiB of float64 at DIM 64)
MAX_TOPK_QUERIES = 1024


def _fold(terms: Column) -> Column:
    """Left-to-right IEEE double sum in array order. 0.0 + x1 == x1 exactly,
    so this equals DuckDB's seedless list_reduce fold bit-for-bit."""
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


# NOTE (measured, r3): Spark's higher-order array functions are
# CodegenFallback (interpreted, boxed per element), so _dot in a verify
# join over ~10^5 candidates costs seconds. Unrolling DIM=64 into an
# element_at chain was tried and is ~2.5x SLOWER: the generated methods
# blow past the JVM's JIT HugeMethodLimit and run in the bytecode
# interpreter (1.7 MB task binaries). Keep the HOF fold; where the
# candidate count makes it the bottleneck, use an Arrow-vectorized verify
# (the dim-ordered numpy accumulation in dimfold.py — same IEEE op
# order) instead of widening the JVM expression.


def _dot(a: Column, b: Column) -> Column:
    return _fold(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def _norm(a: Column) -> Column:
    return F.sqrt(_fold(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine_topk(embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    # opt r14 (guide §4.2/§8 — the r13 VERDICT's "block-matrix" ask): the
    # old broadcast pair-join evaluated the interpreted _dot/_norm folds
    # once per (query, doc) PAIR; the r13 Arrow attempt kept the pair join
    # and shipped BOTH embeddings per pair through the Python boundary
    # (measured worse, reverted). This form broadcasts the query block in
    # the task closure (n_queries x DIM doubles — driver-bounded, like
    # the kmeans centroids) and streams the CORPUS through one mapInPandas
    # pass — each embedding crosses the boundary exactly once, and the
    # (N, n_queries) dot block accumulates dim-sequentially in float64:
    # the exact IEEE op order of the JVM zip_with/aggregate fold and of
    # DuckDB's list_reduce, with the shared floor(x*1e9+0.5)/1e9 grid.
    # Interleaved A/B at sf0.1: 0.76 -> 0.50 s (0.65x), bit-EQUAL. This is
    # also the form that survives a large corpus: payload crosses once,
    # the only shuffle is the per-query top-k window.
    if n_queries > MAX_TOPK_QUERIES:
        raise ValueError(
            f"cosine_topk: n_queries={n_queries} exceeds MAX_TOPK_QUERIES="
            f"{MAX_TOPK_QUERIES} (the query block is collected to the driver)"
        )
    qrows = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in embeddings.filter(F.col("vec_id") < n_queries).collect()
    )
    qids = [q for q, _ in qrows]
    qmat = [e for _, e in qrows]

    def kernel(batches):
        import numpy as np
        import pandas as pd

        Q = np.asarray(qmat, dtype=np.float64)  # (nq, DIM)
        ids = np.asarray(qids, dtype=np.int64)
        qn = np.sqrt(dots(Q, Q))  # the _norm fold
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d_id = pdf["vec_id"].to_numpy().astype(np.int64)
            n = len(pdf)
            dn = np.sqrt(dots(X, X))
            cos = cosine_grid(dot_block(X, Q), qn[None, :], dn[:, None])
            out_q = np.repeat(ids[None, :], n, axis=0).ravel()
            out_d = np.repeat(d_id, len(ids))
            out_c = cos.ravel()
            keep = out_q != out_d
            yield pd.DataFrame(
                {"q_id": out_q[keep], "d_id": out_d[keep], "cosine": out_c[keep]}
            )

    scored = embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "q_id long, d_id long, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("d_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "d_id", "cosine", F.col("rnk").cast("int").alias("rnk"))
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(load_table(spark, sf_dir, "embeddings"))


SQL_COSINE_TOPK = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
norms AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(e, x -> x * x), (acc, x) -> acc + x)) AS nrm
  FROM base
),
scored AS (
  SELECT q.vec_id AS q_id, d.vec_id AS d_id,
         floor((list_reduce(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * d.e[i]),
                            (acc, x) -> acc + x)
                / (qn.nrm * dn.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM base q
  JOIN base d ON q.vec_id <> d.vec_id
  JOIN norms qn ON q.vec_id = qn.vec_id
  JOIN norms dn ON d.vec_id = dn.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT q_id, d_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, d_id ASC) AS rnk
  FROM scored
) t
WHERE rnk <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Sign-LSH bucketing: hyperplane weight w(p,pos) = ±1 from the parity of the
# first hex char of md5("{p}_{pos}") — engine-portable randomness. Python
# precomputes the weights into literal arrays (identical values to the
# oracle's in-SQL md5), so bucket assignment is a constant-folded projection.
# ---------------------------------------------------------------------------

def _plane_weights(p: int, dim: int = DIM) -> list[float]:
    return [
        float((ord(hashlib.md5(f"{p}_{pos}".encode()).hexdigest()[0]) % 2) * 2 - 1)
        for pos in range(dim)
    ]


def lsh_bucket_col(emb: Column) -> Column:
    """8-bit sign-LSH bucket code of an embedding column (pure projection)."""
    sig = sum(
        F.when(
            _fold(
                F.zip_with(
                    emb,
                    F.array(*[F.lit(w) for w in _plane_weights(p)]),
                    lambda x, w: w * x.cast("double"),
                )
            )
            > 0,
            F.lit(2 ** p),
        ).otherwise(F.lit(0))
        for p in range(LSH_PLANES)
    )
    return sig.cast("int")


def _arrow_sign_codes(
    embeddings: DataFrame, weights: list[list[float]], out_col: str = "code"
) -> DataFrame:
    """(vec_id, out_col): the sign-LSH code computed in ONE Arrow pass —
    bit p of the code is set when fold_i(w[p][i] * x[i]) > 0, the fold
    accumulated dim-sequentially in float64, i.e. the EXACT IEEE op order
    of the JVM zip_with/aggregate fold it replaces and of the oracle's
    list_reduce (the embedding_near_dups-verify/kmeans-assign pattern —
    opt r13, guide §4.2: Spark's higher-order array functions are
    CodegenFallback, interpreted and boxed per element; the per-plane
    folds were measured as the dominant cost of every sign-code plan).
    Zero-shuffle: one mapInPandas over the projected (vec_id, embedding).
    """
    wmat = [[float(v) for v in row] for row in weights]

    def kernel(batches):
        import numpy as np
        import pandas as pd

        W = np.asarray(wmat, dtype=np.float64)  # (P, DIM)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)  # (N, DIM)
            proj = dot_block(X, W)  # (N, P)
            code = np.zeros(len(pdf), dtype=np.int64)
            for p in range(W.shape[0]):
                code = code | ((proj[:, p] > 0).astype(np.int64) << p)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(), out_col: code})

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, f"vec_id long, {out_col} long"
    )


def _arrow_pair_cosine(pairs: DataFrame, keep: list[tuple[str, str]]) -> DataFrame:
    """Exact rounded cosine over joined (emb_a, emb_b) pairs in ONE Arrow
    pass: dot and both norms accumulated dim-sequentially in float64 —
    the same IEEE op sequence as the per-side _norm + per-pair _dot JVM
    folds it replaces (and as DuckDB's list_reduce), then the shared
    floor(x*1e9 + 0.5)/1e9 rounding. `keep` lists (column, pandas dtype)
    pass-through columns. Replaces interpreted per-element folds on the
    candidate-pair hot path (opt r13, guide §4.2).

    PRECONDITION (r13 ADVICE): finite, non-zero-norm embeddings. On a
    zero-norm or NaN vector this kernel yields inf/NaN where the JVM plan
    yields NULL (non-ANSI Divide) and the two engines order NaN
    differently — the corpus contract excludes such vectors and
    test_embeddings_fixed_dim_and_finite pins it (NaN/null AND zero-norm
    canaries); a corpus that may contain them must mask before calling."""
    schema = ", ".join(
        [f"{c} {'int' if dt == 'int32' else 'long'}" for c, dt in keep]
        + ["cosine double"]
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["emb_a"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["emb_b"].to_numpy()).astype(np.float64)
            cos = cosine_grid(
                dots(va, vb), np.sqrt(dots(va, va)), np.sqrt(dots(vb, vb))
            )
            out = {c: pdf[c].to_numpy().astype(dt) for c, dt in keep}
            out["cosine"] = cos
            yield pd.DataFrame(out)

    return pairs.mapInPandas(kernel, schema)


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """(vec_id, bucket): zero-shuffle signature pass (Arrow sign-code —
    same values as the lsh_bucket_col expression form, which remains the
    column-expression variant for in-plan composition)."""
    w = [_plane_weights(p) for p in range(LSH_PLANES)]
    return _arrow_sign_codes(embeddings, w, out_col="bucket_code").select(
        "vec_id", F.col("bucket_code").cast("int").alias("bucket")
    )


def q_lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = lsh_buckets(load_table(spark, sf_dir, "embeddings"))
    return b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))


def _lsh_cte(src: str = "embeddings") -> str:
    """DuckDB CTEs `base(vec_id, e)` + `buckets(vec_id, bucket)`, re-deriving
    the hyperplane weights via md5 (same values as _plane_weights) and
    folding in the same element order as the Spark side. `src` lets the
    planted-pair variant read a derived relation instead of the raw table."""
    projections = ",\n         ".join(
        "list_reduce(list_transform(range(1, len(e) + 1), "
        f"i -> CAST(((ascii(substr(md5('{p}_' || CAST(i - 1 AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS DOUBLE) * e[i]), "
        f"(acc, x) -> acc + x) AS proj{p}"
        for p in range(LSH_PLANES)
    )
    sig = " + ".join(
        f"CASE WHEN proj{p} > 0 THEN {2 ** p} ELSE 0 END" for p in range(LSH_PLANES)
    )
    return f"""
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM {src}
),
proj AS (
  SELECT vec_id,
         {projections}
  FROM base
),
buckets AS (
  SELECT vec_id, CAST({sig} AS INT) AS bucket FROM proj
)"""


SQL_LSH_BUCKET_SIZES = f"""
WITH {_lsh_cte()}
SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors
FROM buckets GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# ANN scale path: probe only the query's LSH bucket, exact cosine within it.
# The corpus scan becomes an equi-join on bucket id — at 100 TB this is the
# variant that survives (candidates per query ≈ corpus / 2^planes).
# ---------------------------------------------------------------------------

def lsh_probe_topk(embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    # Bucket assignment and pair scoring are Arrow passes (r13); the
    # candidate restriction (bucket equi-condition) is unchanged.
    b = lsh_buckets(embeddings)
    docs = embeddings.join(b, "vec_id").select(
        F.col("vec_id").alias("d_id"),
        F.col("embedding").alias("emb_a"),
        F.col("bucket").alias("d_bucket"),
    )
    queries = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .join(b, "vec_id")
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("emb_b"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    scored = _arrow_pair_cosine(
        docs.join(
            F.broadcast(queries),
            (F.col("q_bucket") == F.col("d_bucket")) & (F.col("q_id") != F.col("d_id")),
        ).select("q_id", "d_id", "emb_a", "emb_b"),
        keep=[("q_id", "int64"), ("d_id", "int64")],
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("d_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "d_id", "cosine", F.col("rnk").cast("int").alias("rnk"))
    )


def q_lsh_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_probe_topk(load_table(spark, sf_dir, "embeddings"))


SQL_LSH_PROBE_TOPK = f"""
WITH {_lsh_cte()},
norms AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(e, x -> x * x), (acc, x) -> acc + x)) AS nrm
  FROM base
),
scored AS (
  SELECT q.vec_id AS q_id, d.vec_id AS d_id,
         floor((list_reduce(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * d.e[i]),
                            (acc, x) -> acc + x)
                / (qn.nrm * dn.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM base q
  JOIN buckets qb ON q.vec_id = qb.vec_id
  JOIN buckets db ON qb.bucket = db.bucket AND db.vec_id <> q.vec_id
  JOIN base d ON d.vec_id = db.vec_id
  JOIN norms qn ON q.vec_id = qn.vec_id
  JOIN norms dn ON d.vec_id = dn.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT q_id, d_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, d_id ASC) AS rnk
  FROM scored
) t
WHERE rnk <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Embedding near-dup pairs: cosine ≥ threshold over the FULL corpus.
#
# r5 REDESIGN, from the measured sf0.1→sf1.0 scale ladder: the r3 plan
# (multi-probe Hamming ≤ 2 over the 8-plane bucket code) has a FIXED
# 256-bucket key space, so its candidate volume is Θ(n²): a random pair
# collides with probability 37/256 ≈ 14.5% regardless of corpus size —
# measured 299k → 30.0M candidates (100×) for 10× vectors, and the
# verify stage (two embedding re-attach joins + Arrow cosine over every
# candidate) inherits the quadratic. More data must mean more buckets.
#
# New index = the classic AND-OR sign-LSH of Indyk–Motwani/Gionis et al.
# (and FALCONN's multi-table construction): a sign code per vector (same
# md5-derived ±1 hyperplanes as the 8-plane bucket ops, extended to the
# derived plane count), and ntables hash tables, table l keyed on the
# kbits-bit subcode selected by its derived plane-mask (AND over kbits
# planes per table, OR across the tables).
# Candidates = pairs agreeing exactly on ≥ 1 masked subcode — an
# equi-join on (table_idx, masked_code); a pair can match several tables
# so candidates dedup BEFORE the embedding re-attach. Then the exact
# cosine verify keeps only true near-dups (precision is exact; the
# SQL oracle states this same candidate contract, so driver parity holds
# on any corpus).
#
# r6: the AND-OR parameters are CORPUS-DERIVED (the r5 verdict's design
# debt — fixed literals meant a 100 TB run would need manual retuning).
# The derivation is the kmeans_clusters pattern: one driver round-trip
# counts the corpus, integer-only formulas (bit_length — exactly
# length(bin(n-1)) in DuckDB, so the oracle derives the SAME parameters
# from count(*) with no cross-engine float risk) pick
#   kbits(n)  = clamp(ceil_log2(n) + 4, 14, 48)   -- 2^kbits >= 16·n, so
#               random pairs collide on a table at <= 1/(32n): candidates
#               stay ~linear per table as the corpus grows;
#   planes(n) = 32 while kbits <= 24, else 62     -- the code widens ahead
#               of the mask so tables keep plane diversity (correlated
#               tables would break the OR-recall independence);
#   ntables(kbits) = ceil(ln δ / ln(1 - p1^kbits)), δ = 0.09, p1 =
#               1 - acos(0.9)/π ≈ 0.856 -- boundary recall stays ~91% at
#               every corpus size. ntables grows as n^ρ, ρ =
#               ln(1/p1)/ln 2 ≈ 0.224 (the Indyk–Motwani exponent), so
#               total work is Θ(n^{1+ρ}) — the published optimum for this
#               (p1, p2); at extreme n a multi-probe variant would trade
#               tables for probes, documented not implemented.
# The table of ntables values is computed ONCE here (floats never cross
# an engine boundary: both engines consume the same baked integers — the
# Spark plan as literal masks, the oracle as a CASE on its derived
# kbits). At the driver sfs (n<=520) the derivation reproduces r5's
# exact literals (kbits=14, 20 tables, same md5 masks), so the contract
# only MOVES where the corpus does. Saturation: kbits caps at 48
# (n ≈ 2.8e14 vectors — four orders past 100 TB of 64-dim floats).
# tests/test_lsh_derivation.py pins the ladder invariants.
# ---------------------------------------------------------------------------

NEARDUP_MIN_COS = 0.9
NEARDUP_MIN_BITS = 14       # floor: the r5 contract at driver sfs
NEARDUP_BITS_HEADROOM = 4   # 2^kbits >= 16n
NEARDUP_MAX_BITS = 48       # saturation (n ~ 2.8e14)
NEARDUP_NARROW_MAX_BITS = 24
NEARDUP_PLANES_NARROW = 32
NEARDUP_PLANES_WIDE = 62    # < 63: every mask stays a non-negative long
NEARDUP_RECALL_DELTA = 0.09

_NEARDUP_P1 = 1.0 - _math.acos(NEARDUP_MIN_COS) / _math.pi


def _ceil_log2(n: int) -> int:
    return (n - 1).bit_length() if n > 1 else 0


def neardup_mask_bits(n: int) -> int:
    return max(
        NEARDUP_MIN_BITS,
        min(NEARDUP_MAX_BITS, _ceil_log2(n) + NEARDUP_BITS_HEADROOM),
    )


def neardup_planes(n: int) -> int:
    return (
        NEARDUP_PLANES_NARROW
        if neardup_mask_bits(n) <= NEARDUP_NARROW_MAX_BITS
        else NEARDUP_PLANES_WIDE
    )


def _tables_for_bits(kbits: int) -> int:
    p_match = _NEARDUP_P1 ** kbits
    return int(_math.ceil(_math.log(NEARDUP_RECALL_DELTA) / _math.log(1.0 - p_match)))


# kbits -> table count, baked once; both engines consume these integers
NEARDUP_TABLES_BY_BITS = {
    k: _tables_for_bits(k) for k in range(NEARDUP_MIN_BITS, NEARDUP_MAX_BITS + 1)
}


def _mask_planes(table: int, kbits: int, planes: int) -> list[int]:
    """The kbits planes of table `table`: a deterministic md5-ranked
    shuffle of the `planes` available planes — engine-portable because
    the oracle re-derives the identical ranking with SQL md5()."""
    ranked = sorted(
        range(planes),
        key=lambda p: hashlib.md5(f"neardup_mask_{table}_{p}".encode()).hexdigest(),
    )
    return sorted(ranked[:kbits])


def derive_neardup_params(n: int) -> tuple[int, int, list[int]]:
    """(planes, kbits, masks) for an n-vector corpus."""
    kbits = neardup_mask_bits(n)
    planes = neardup_planes(n)
    masks = [
        sum(1 << p for p in _mask_planes(l, kbits, planes))
        for l in range(NEARDUP_TABLES_BY_BITS[kbits])
    ]
    return planes, kbits, masks


def neardup_code_col(emb: Column, planes: int = NEARDUP_PLANES_NARROW) -> Column:
    """`planes`-plane sign code (long) — lsh_bucket_col's construction
    widened; planes 0..7 coincide with the bucket ops' planes."""
    sig = sum(
        F.when(
            _fold(
                F.zip_with(
                    emb,
                    F.array(*[F.lit(w) for w in _plane_weights(p)]),
                    lambda x, w: w * x.cast("double"),
                )
            )
            > 0,
            F.lit(2 ** p).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for p in range(planes)
    )
    return sig.cast("long")


_NEARDUP_OUT = "vec_a long, vec_b long, cosine double"


def embedding_near_dups(embeddings: DataFrame, n_override: int | None = None) -> DataFrame:
    """Candidates from the corpus-derived masked-subcode equi-join on
    (table_idx, masked_code) keys ONLY — the ntables× table explode
    duplicates ~16 bytes per row, not the embedding vector — deduped,
    then embeddings re-attach by vec_id for the verify. EAGER at build:
    one count() round-trip derives (planes, kbits, masks) — the
    kmeans_clusters pattern (registry eager-exec note). `n_override`
    exists for tests that exercise a specific rung of the derivation
    (e.g. the wide-planes tier) on a tiny corpus.

    Verify is an Arrow-vectorized mapInPandas, not the JVM `_dot` fold:
    Spark's higher-order array functions are CodegenFallback (interpreted,
    boxed per element), and with the r3 cap lift the candidate volume makes
    that the bottleneck (measured 6.1 s -> 1.3 s at sf0.1). The numpy
    accumulation is vectorized ACROSS candidates but sequential ACROSS
    dimensions (acc = acc + a_i * b_i in array order, float64), i.e. the
    exact IEEE op order of the JVM fold and DuckDB's list_reduce — the
    cosine stays bit-identical to the oracle.

    At 100 TB: candidate generation is a shuffle hash join on (int, long)
    keys whose collision rate is set by the mask width (grow tables/bits
    with the corpus — the key space is not fixed), the two embedding
    attaches are vec_id equi-joins (linear), and the verify streams Arrow
    batches over the deduped candidate set.
    """
    n = embeddings.count() if n_override is None else n_override
    planes, _kbits, masks = derive_neardup_params(n)
    # r13: the `planes` x DIM sign-code folds move to one Arrow pass
    # (identical values — see _arrow_sign_codes); at the derived 32-62
    # planes the interpreted zip_with/aggregate projection was the
    # dominant cost of the whole query, evaluated TWICE (once per
    # self-join side).
    coded = _arrow_sign_codes(
        embeddings, [_plane_weights(p) for p in range(planes)], out_col="code"
    )
    tables = F.array(
        *[
            F.struct(
                F.lit(l).cast("int").alias("tbl"),
                F.col("code").bitwiseAND(F.lit(mask).cast("long")).alias("mkey"),
            )
            for l, mask in enumerate(masks)
        ]
    )
    keys = coded.select("vec_id", F.explode(tables).alias("kv")).select(
        "vec_id", F.col("kv.tbl").alias("tbl"), F.col("kv.mkey").alias("mkey")
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.mkey") == F.col("b.mkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()  # a pair can agree on several tables; verify once
    )
    ea = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")

    def verify(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["emb_a"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["emb_b"].to_numpy()).astype(np.float64)
            cos = cosine_grid(
                dots(va, vb), np.sqrt(dots(va, va)), np.sqrt(dots(vb, vb))
            )
            keep = cos >= NEARDUP_MIN_COS
            out = pdf.loc[keep, ["vec_a", "vec_b"]].copy()
            out["cosine"] = cos[keep]
            yield out

    return pairs.mapInPandas(verify, schema=_NEARDUP_OUT)


def embedding_near_dups_allpairs(embeddings: DataFrame) -> DataFrame:
    """Exact quadratic ground truth (test-side only): all pairs —
    the calibration target for the LSH plan's recall measurement."""
    sub = embeddings.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )
    a, b = sub.alias("a"), sub.alias("b")
    cos = round_half_up(
        _dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm")), 9
    ).alias("cosine")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos,
        )
        .filter(F.col("cosine") >= NEARDUP_MIN_COS)
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups(load_table(spark, sf_dir, "embeddings"))


# The oracle states the registered plan's EXACT contract — pairs whose
# sign codes agree on at least one derived mask's plane subset *and*
# cosine >= 0.9 — and DERIVES the parameters the same way the Spark
# side does: kbits from count(*) via length(bin(n-1)) (== Python
# bit_length, integer-exact), ntables from the same baked integer
# table, and each mask by ranking md5('neardup_mask_l_p') over the
# derived plane range (verified == hashlib ranking). Planes 0..7 of
# the code construction are oracle-verified by lsh_bucket_sizes.
# Parity is therefore guaranteed on ANY data, not vacuously on a corpus
# with no qualifying pairs. Recall vs the exact all-pairs ground truth
# (embedding_near_dups_allpairs) is a test-side measurement, not a
# parity claim — ANN recall is documented, not certified.


def _neardup_params_cte(src: str, n_override: int | None = None) -> str:
    """CTEs nd_p(kbits, planes, ntables) + nd_masks(l, mask): the SQL
    twin of derive_neardup_params, from count(*) over `src` (or the
    literal n_override in tests)."""
    ntables_case = " ".join(
        f"WHEN {k} THEN {t}" for k, t in sorted(NEARDUP_TABLES_BY_BITS.items())
    )
    n_src = (
        f"(SELECT count(*) AS n FROM {src})"
        if n_override is None
        else f"(SELECT CAST({n_override} AS BIGINT) AS n)"
    )
    lmax = NEARDUP_TABLES_BY_BITS[NEARDUP_MAX_BITS]
    return f"""
nd_p AS (
  SELECT kbits,
         CASE WHEN kbits <= {NEARDUP_NARROW_MAX_BITS}
              THEN {NEARDUP_PLANES_NARROW} ELSE {NEARDUP_PLANES_WIDE} END AS planes,
         CASE kbits {ntables_case} END AS ntables
  FROM (
    SELECT greatest({NEARDUP_MIN_BITS}, least({NEARDUP_MAX_BITS},
             CASE WHEN n <= 1 THEN 0 ELSE length(bin(n - 1)) END
               + {NEARDUP_BITS_HEADROOM})) AS kbits
    FROM {n_src}
  )
),
nd_masks AS (
  SELECT l,
         SUM(CASE WHEN rnk <= (SELECT kbits FROM nd_p)
                  THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
                  ELSE CAST(0 AS BIGINT) END) AS mask
  FROM (
    SELECT l, p,
           row_number() OVER (
             PARTITION BY l
             ORDER BY md5('neardup_mask_' || CAST(l AS VARCHAR) || '_' || CAST(p AS VARCHAR))
           ) AS rnk
    FROM range(0, {lmax}) t(l), range(0, {NEARDUP_PLANES_WIDE}) s(p)
    WHERE l < (SELECT ntables FROM nd_p) AND p < (SELECT planes FROM nd_p)
  )
  GROUP BY l
)"""


def _neardup_code_cte(src: str = "embeddings") -> str:
    """DuckDB CTEs base(vec_id, e) + codes(vec_id, code): the sign code,
    same md5 weights and fold order as neardup_code_col. All 62 plane
    projections are emitted; the wide tier (p >= 32) is gated on the
    derived planes so the narrow tier pays nothing for it, and masks
    never reference planes beyond the derived width, so a 62-bit SQL
    code and a 32-plane Spark code agree on every masked comparison."""
    projs = []
    for p in range(NEARDUP_PLANES_WIDE):
        fold = (
            "list_reduce(list_transform(range(1, len(e) + 1), "
            f"i -> CAST(((ascii(substr(md5('{p}_' || CAST(i - 1 AS VARCHAR)), 1, 1)) % 2) * 2 - 1) AS DOUBLE) * e[i]), "
            "(acc, x) -> acc + x)"
        )
        if p >= NEARDUP_PLANES_NARROW:
            fold = f"CASE WHEN (SELECT planes FROM nd_p) > {NEARDUP_PLANES_NARROW} THEN {fold} ELSE 0.0 END"
        projs.append(f"{fold} AS proj{p}")
    projections = ",\n         ".join(projs)
    sig = " + ".join(
        f"CASE WHEN proj{p} > 0 THEN CAST({2 ** p} AS BIGINT) ELSE 0 END"
        for p in range(NEARDUP_PLANES_WIDE)
    )
    return f"""
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM {src}
),
proj AS (
  SELECT vec_id,
         {projections}
  FROM base
),
codes AS (
  SELECT vec_id, CAST({sig} AS BIGINT) AS code FROM proj
)"""


def _neardup_sql(src: str = "embeddings", n_override: int | None = None) -> str:
    return f"""
WITH {_neardup_params_cte(src, n_override)},
{_neardup_code_cte(src)},
sub AS (
  SELECT b.vec_id, b.e, k.code
  FROM base b JOIN codes k ON b.vec_id = k.vec_id
),
norms AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(e, x -> x * x), (acc, x) -> acc + x)) AS nrm
  FROM sub
),
nd_keys AS (
  SELECT s.vec_id, m.l, s.code & m.mask AS mkey
  FROM sub s, nd_masks m
),
cand AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM nd_keys a
  JOIN nd_keys b ON a.l = b.l AND a.mkey = b.mkey AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.va AS vec_a, c.vb AS vec_b,
         floor((list_reduce(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]),
                            (acc, x) -> acc + x)
                / (na.nrm * nb.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM cand c
  JOIN sub a ON c.va = a.vec_id
  JOIN sub b ON c.vb = b.vec_id
  JOIN norms na ON c.va = na.vec_id
  JOIN norms nb ON c.vb = nb.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {NEARDUP_MIN_COS}
"""


SQL_EMBEDDING_NEAR_DUPS = _neardup_sql()


# ---------------------------------------------------------------------------
# Planted-pair variant: the r4 verdict noted embedding_near_dups' driver
# row matches its oracle with ZERO rows at sf0.01 (no genuine pair clears
# cosine >= 0.9 there — both engines agree on empty, but the evidence is
# vacuous). This variant UNIONs the corpus with PLANT_N exact copies of
# its first vectors under shifted ids — entirely in-plan on BOTH engines
# (the read-only parquet is never touched) — so the identical LSH
# multi-probe + Arrow verify machinery provably CATCHES each planted pair
# (Hamming 0, cosine 1.0) and emits exactly PLANT_N rows at every sf:
# non-vacuous driver evidence for the whole family.
# ---------------------------------------------------------------------------

PLANT_N = 20
PLANT_OFFSET = 1_000_000  # clears any real vec_id at any tested sf


def _with_planted(embeddings: DataFrame) -> DataFrame:
    base = embeddings.select("vec_id", "embedding")
    planted = embeddings.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + F.lit(PLANT_OFFSET)).cast("long").alias("vec_id"),
        "embedding",
    )
    return base.unionByName(planted)


def q_embedding_near_dups_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dups(_with_planted(load_table(spark, sf_dir, "embeddings")))


_PLANTED_SRC = (
    f"(SELECT vec_id, embedding FROM embeddings "
    f"UNION ALL "
    f"SELECT vec_id + {PLANT_OFFSET} AS vec_id, embedding FROM embeddings "
    f"WHERE vec_id < {PLANT_N}) AS planted_src"
)

SQL_EMBEDDING_NEAR_DUPS_PLANTED = _neardup_sql(_PLANTED_SRC)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer = LEARNED k-means centroids
# (r3 — previously a deterministic vec_id % 50 subset). The kmeans_core
# construction hands back K x DIM centroid doubles that are bit-identical
# in both engines, so the oracle re-derives the same inverted lists with
# the kmeans CTE. Every vector joins its nearest centroid's list (one
# broadcast pass — K centroids are driver-side literals at any corpus
# size); queries probe their nprobe nearest lists with exact cosine —
# the FAISS IVF-Flat shape, now with the real train/assign/probe split.
# ---------------------------------------------------------------------------


def _cents_df(spark: SparkSession, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """(c_id, c_emb, c_norm) K-row broadcastable DataFrame from a trained
    centroid list."""
    cdf = spark.createDataFrame(
        [(int(cid), [float(v) for v in ce]) for cid, ce in cents],
        "c_id long, c_emb array<double>",
    )
    return cdf.select("c_id", "c_emb", _norm(F.col("c_emb")).alias("c_norm"))


def _learned_centroids(embeddings: DataFrame) -> DataFrame:
    """(c_id, c_emb, c_norm): k-means centroids (quantized-unit doubles —
    cosine is scale-invariant, and these exact values are what the oracle
    reconstructs) as a K-row DataFrame for broadcast."""
    from .kmeans_core import kmeans_centroids  # deferred: no import cycle

    return _cents_df(embeddings.sparkSession, kmeans_centroids(embeddings))


def _centroid_topn(cents: DataFrame, vecs: DataFrame, n: int) -> DataFrame:
    """(vec_id, centroid_id) for each vector's n nearest centroids by
    cosine (ties -> lowest centroid id) — the QUERY-side form (bounded
    rows: join + window). The corpus-side assignment (ivf_assignments)
    is an Arrow-vectorized kernel making the bit-identical decision
    (same fold order, same rounding, same tie-break) — the two cannot
    drift because test_vectorized_assignment_matches_window_path pins
    them equal on real corpora (the recall-monotonicity test depends on
    the shared convention)."""
    scored = vecs.join(F.broadcast(cents)).select(
        "vec_id",
        "c_id",
        round_half_up(
            _dot(F.col("embedding"), F.col("c_emb")) / (F.col("v_norm") * F.col("c_norm")), 9
        ).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("vec_id", F.col("c_id").alias("centroid_id"))
    )


# scratch-parquet memo for the inverted lists (see docstring below)
_ASSIGN_MEMO: dict = {}
# scratch-parquet memo for the PQ code table (same discipline)
_PQ_CODES_MEMO: dict = {}


def ivf_assignments(embeddings: DataFrame, cents: DataFrame | None = None) -> DataFrame:
    """(vec_id, centroid_id): nearest learned centroid over the WHOLE
    corpus — Arrow-vectorized (r8).

    This was the n=1 case of _centroid_topn: an n×K scored relation
    through a CodegenFallback fold plus a per-vector window — 320M rows
    and 168.6 s of the sf10 ivf_pq rung's 214 s (profiled this round;
    cosine_topk by contrast is 1.2 s because its scored relation is only
    queries×n). Assignment is the one centroid-scoring consumer whose
    row count scales with the CORPUS, so it gets the module's documented
    escape hatch (see the _dot NOTE): a mapInPandas kernel with the
    centroid matrix riding the closure — no join, no shuffle, no window
    — computing cos with a DIM-SEQUENTIAL numpy accumulation (the exact
    IEEE op order of _dot's fold and DuckDB's list_reduce), the same
    floor(x*1e9+0.5)/1e9 rounding as round_half_up(9), and first-max
    argmax over centroid-id-sorted columns (ties -> lowest c_id) — the
    bit-identical decision _centroid_topn(n=1) makes, pinned by
    test_vectorized_assignment_matches_window_path. The multi-probe
    path (queries only, bounded rows) keeps the join+window form.
    At 100 TB this is FAISS's own shape: BLAS-style distance blocks +
    argmin, embarrassingly parallel over vector partitions."""
    if cents is None:
        cents = _learned_centroids(embeddings)
    # K rows, driver-bounded (the same object the kmeans training holds
    # driver-side); sorted by c_id so argmax's first-max tie-break IS
    # the lowest-c_id convention
    cl = sorted(
        (int(r["c_id"]), [float(x) for x in r["c_emb"]], float(r["c_norm"]))
        for r in cents.collect()
    )
    # the assignment IS the index's inverted lists — an index-build
    # artifact a deployment stores, not per-query work. Memoize to
    # scratch parquet per (corpus, exact centroid set) like the other
    # index builds; SPARK_GRAFT_BUILD_CACHE=0 (bench) disables so
    # measured builds stay cold. Custom/planted cents on synthetic DFs
    # get corpus_key None and skip the memo.
    from .buildcache import corpus_key, memo_put

    ckey = corpus_key(
        embeddings, "ivf_assign_" + hashlib.md5(repr(cl).encode()).hexdigest()
    )
    if ckey is not None and ckey in _ASSIGN_MEMO:
        return embeddings.sparkSession.read.parquet(_ASSIGN_MEMO[ckey])
    cids = [c for c, _, _ in cl]
    cmat = [e for _, e, _ in cl]
    cnorms = [n for _, _, n in cl]

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat, dtype=np.float64)      # (K, DIM)
        CN = np.asarray(cnorms, dtype=np.float64)   # (K,)
        ids = np.asarray(cids, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for lo in range(0, len(pdf), 4096):     # bound the (rows, K) block
                chunk = pdf.iloc[lo : lo + 4096]
                Q = np.stack(chunk["embedding"].to_numpy()).astype(np.float64)
                vn = np.sqrt(dots(Q, Q))  # the _norm fold
                # dot(q, c_j) for ALL centroids at once, in dim order
                cos = cosine_grid(dot_block(Q, C), vn[:, None], CN[None, :])
                best = np.argmax(cos, axis=1)       # first max -> lowest c_id
                yield pd.DataFrame(
                    {
                        "vec_id": chunk["vec_id"].to_numpy(),
                        "centroid_id": ids[best],
                    }
                )

    out = embeddings.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, centroid_id long"
    )
    if ckey is not None:
        import os as _os

        from .pin import scratch_dir

        path = _os.path.join(scratch_dir("ivf_assign_"), "assign")
        out.write.mode("overwrite").parquet(path)
        memo_put(_ASSIGN_MEMO, ckey, path)
        return embeddings.sparkSession.read.parquet(path)
    return out


def q_ivf_list_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = ivf_assignments(load_table(spark, sf_dir, "embeddings"))
    return a.groupBy("centroid_id").agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))


def _ivf_cte() -> str:
    from .kmeans_core import kmeans_cte  # deferred: no import cycle

    return f"""{kmeans_cte()},
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
norms AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(e, x -> x * x), (acc, x) -> acc + x)) AS nrm
  FROM base
),
cnorms AS (
  SELECT cluster AS c_id, ce,
         sqrt(list_reduce(list_transform(ce, x -> x * x), (acc, x) -> acc + x)) AS cnrm
  FROM c1
),
cscored AS (
  SELECT v.vec_id, c.c_id,
         floor((list_reduce(list_transform(range(1, len(v.e) + 1), i -> v.e[i] * c.ce[i]),
                            (acc, x) -> acc + x)
                / (vn.nrm * c.cnrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cos
  FROM base v
  JOIN cnorms c ON TRUE
  JOIN norms vn ON v.vec_id = vn.vec_id
),
assign AS (
  SELECT vec_id, c_id AS centroid_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
        FROM cscored) t
  WHERE rn = 1
)"""


SQL_IVF_LIST_SIZES = f"""
WITH {_ivf_cte()}
SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors
FROM assign GROUP BY centroid_id
"""


def ivf_probe_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                   k: int = TOP_K, nprobe: int = 1,
                   cents: DataFrame | None = None) -> DataFrame:
    """IVF probe: each query searches its nprobe nearest centroids' lists
    with exact cosine. A (q, d) pair arises through at most ONE probed
    list (each doc lives in exactly one inverted list), so no distinct is
    needed after the probe join at any nprobe. Pass `cents` to share one
    training across several probe configurations (ann_recall_eval)."""
    if cents is None:
        cents = _learned_centroids(embeddings)  # trained once, shared by both paths
    assign = ivf_assignments(embeddings, cents)
    docs = embeddings.join(assign, "vec_id").select(
        F.col("vec_id").alias("d_id"),
        F.col("embedding").alias("d_emb"),
        F.col("centroid_id").alias("d_cent"),
        _norm(F.col("embedding")).alias("d_norm"),
    )
    qvecs = embeddings.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("v_norm")
    )
    probes = _centroid_topn(cents, qvecs, nprobe)
    queries = (
        qvecs.select(
            F.col("vec_id"),
            F.col("embedding").alias("q_emb"),
            F.col("v_norm").alias("q_norm"),
        )
        .join(probes, "vec_id")
        .select(
            F.col("vec_id").alias("q_id"), "q_emb", "q_norm",
            F.col("centroid_id").alias("q_cent"),
        )
    )
    scored = (
        docs.join(
            F.broadcast(queries),
            (F.col("q_cent") == F.col("d_cent")) & (F.col("q_id") != F.col("d_id")),
        )
        .select(
            "q_id",
            "d_id",
            round_half_up(
                _dot(F.col("q_emb"), F.col("d_emb")) / (F.col("q_norm") * F.col("d_norm")), 9
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("d_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "d_id", "cosine", F.col("rnk").cast("int").alias("rnk"))
    )


def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_probe_topk(load_table(spark, sf_dir, "embeddings"))


SQL_IVF_PROBE_TOPK = f"""
WITH {_ivf_cte()},
scored AS (
  SELECT q.vec_id AS q_id, d.vec_id AS d_id,
         floor((list_reduce(list_transform(range(1, len(qb.e) + 1), i -> qb.e[i] * db.e[i]),
                            (acc, x) -> acc + x)
                / (qn.nrm * dn.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM assign q
  JOIN assign d ON q.centroid_id = d.centroid_id AND d.vec_id <> q.vec_id
  JOIN base qb ON qb.vec_id = q.vec_id
  JOIN base db ON db.vec_id = d.vec_id
  JOIN norms qn ON qn.vec_id = q.vec_id
  JOIN norms dn ON dn.vec_id = d.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT q_id, d_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, d_id ASC) AS rnk
  FROM scored
) t
WHERE rnk <= {TOP_K}
"""


QUERIES = {
    "cosine_topk": q_cosine_topk,
    "lsh_bucket_sizes": q_lsh_bucket_sizes,
    "lsh_probe_topk": q_lsh_probe_topk,
    "embedding_near_dups": q_embedding_near_dups,
    "embedding_near_dups_planted": q_embedding_near_dups_planted,
    "ivf_list_sizes": q_ivf_list_sizes,
    "ivf_probe_topk": q_ivf_probe_topk,
}

ORACLES = {
    "cosine_topk": SQL_COSINE_TOPK,
    "lsh_bucket_sizes": SQL_LSH_BUCKET_SIZES,
    "lsh_probe_topk": SQL_LSH_PROBE_TOPK,
    "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
    "embedding_near_dups_planted": SQL_EMBEDDING_NEAR_DUPS_PLANTED,
    "ivf_list_sizes": SQL_IVF_LIST_SIZES,
    "ivf_probe_topk": SQL_IVF_PROBE_TOPK,
}


# ---------------------------------------------------------------------------
# Scalar quantization (int8): the vector-store compression step — encode
# each embedding as int8 codes + one per-vector scale (max_abs/127), and
# report the reconstruction error. Codes are comma-joined so the result is
# hashable cross-engine. Rounding is the portable floor(x+0.5) form on
# both sides (Spark round() is HALF_UP, DuckDB's is half-even — codes
# would differ on exact .5 ties otherwise).
#
# r3: Arrow-vectorized mapInPandas replaces the single-projection HOF
# form. The r2 note ("Known tradeoff", BENCH_NOTES) documented a 6x
# speedup left on the table because materializing `scale` as a column
# flips last-ulp bits under Catalyst's projection collapse into HOF
# lambdas. Quantization has NO order-dependent reduction — max is exactly
# associative/commutative and everything else is per-element IEEE
# arithmetic — so the numpy evaluation is bit-identical to the oracle by
# construction, with none of the HOF interpretation cost or the inlining
# hazard. Zero shuffle is preserved (mapInPandas is a per-partition map).
# ---------------------------------------------------------------------------

_QUANTIZE_OUT = "vec_id long, scale double, codes string, max_abs_err double"


def embedding_quantize(embeddings: DataFrame) -> DataFrame:
    def quantize(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # the math is per row: stack one row length at a time, so a
            # batch mixing lengths (the SQL twin accepts it) keeps working
            embs = pdf["embedding"].to_numpy()
            lens = np.array([len(v) for v in embs])
            scale = np.empty(len(pdf))
            err = np.empty(len(pdf))
            codes = np.empty(len(pdf), dtype=object)
            for dim in np.unique(lens):
                rows = np.flatnonzero(lens == dim)
                e = np.stack(embs[rows]).astype(np.float64)
                sc = np.abs(e).max(axis=1) / 127.0
                # zero-vector guard: divide by 1 instead (codes come out 0,
                # the reported scale stays 0, reconstruction 0*0 is exact)
                div = np.where(sc == 0.0, 1.0, sc)
                q = np.floor(e / div[:, None] + 0.5).astype(np.int64)
                scale[rows] = sc
                err[rows] = np.abs(q * sc[:, None] - e).max(axis=1)
                codes[rows] = [",".join(str(int(c)) for c in row) for row in q]
            out = pdf[["vec_id"]].copy()
            out["scale"] = grid(scale)
            out["codes"] = codes
            out["max_abs_err"] = grid(err)
            yield out

    return embeddings.mapInPandas(quantize, schema=_QUANTIZE_OUT)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_quantize(load_table(spark, sf_dir, "embeddings"))


SQL_EMBEDDING_QUANTIZE = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
scaled AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM base
),
coded AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> CAST(floor(x / (CASE WHEN scale = 0 THEN 1.0
                                                     ELSE scale END) + 0.5)
                                     AS INTEGER)) AS codes
  FROM scaled
)
SELECT vec_id,
       floor(scale * 1000000000.0 + 0.5) / 1000000000.0 AS scale,
       array_to_string(codes, ',') AS codes,
       floor(list_max(list_transform(range(1, len(e) + 1),
                                     i -> abs(CAST(codes[i] AS DOUBLE) * scale - e[i])))
             * 1000000000.0 + 0.5) / 1000000000.0 AS max_abs_err
FROM coded
"""

QUERIES["embedding_quantize"] = q_embedding_quantize
ORACLES["embedding_quantize"] = SQL_EMBEDDING_QUANTIZE


# ---------------------------------------------------------------------------
# Multi-probe IVF (nprobe=2): queries probe their TWO nearest centroids'
# inverted lists, closing the nprobe=1 recall caveat documented above —
# the standard FAISS recall/cost dial; candidates double, recall rises,
# plan shape is identical (the probe join just matches on the query's
# top-2 centroid set).
# ---------------------------------------------------------------------------

IVF_NPROBE = 2


def ivf_probe2_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                    k: int = TOP_K) -> DataFrame:
    return ivf_probe_topk(embeddings, n_queries, k, nprobe=IVF_NPROBE)


def q_ivf_probe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_probe2_topk(load_table(spark, sf_dir, "embeddings"))


SQL_IVF_PROBE2_TOPK = f"""
WITH {_ivf_cte()},
qprobes AS (
  SELECT vec_id AS q_id, c_id AS centroid_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
        FROM cscored WHERE vec_id < {N_QUERIES}) t
  WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT p.q_id, d.vec_id AS d_id,
         floor((list_reduce(list_transform(range(1, len(qb.e) + 1), i -> qb.e[i] * db.e[i]),
                            (acc, x) -> acc + x)
                / (qn.nrm * dn.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM qprobes p
  JOIN assign d ON p.centroid_id = d.centroid_id AND d.vec_id <> p.q_id
  JOIN base qb ON qb.vec_id = p.q_id
  JOIN base db ON db.vec_id = d.vec_id
  JOIN norms qn ON qn.vec_id = p.q_id
  JOIN norms dn ON dn.vec_id = d.vec_id
)
SELECT q_id, d_id, cosine, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, d_id ASC) AS rnk
  FROM scored
) t
WHERE rnk <= {TOP_K}
"""

QUERIES["ivf_probe2_topk"] = q_ivf_probe2_topk
ORACLES["ivf_probe2_topk"] = SQL_IVF_PROBE2_TOPK


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression half of a production
# IVF-PQ vector index (Jegou et al. 2011). Split DIM=64 into M=4 subspaces
# of 16 dims; learn a 16-entry codebook per subspace with the shared
# deterministic k-means core (seeds + one Lloyd step, exact-integer sums);
# encode every vector as M 4-bit codes plus its squared reconstruction
# error. 64 floats -> 4 codes = 16x compression (production uses 8-bit
# codebooks; the construction is identical).
#
# Codebook size is a bit-budget CONSTANT (unlike the coarse quantizer's
# derived K): at 100 TB the codebooks are still M x 16 x 16 doubles in the
# task closure, training is M bounded scans, and encoding is ONE
# mapInPandas pass — no join, no shuffle. The numpy distance loop is
# dim-sequential (same IEEE fold order as the oracle's list_reduce) and
# the subspace error sum is left-assoc (((s0+s1)+s2)+s3 — same parse as
# the SQL `+` chain), so recon_err is bit-identical cross-engine.
# ---------------------------------------------------------------------------

PQ_M = 4        # subspaces
PQ_SUBDIM = 16  # dims per subspace (PQ_M * PQ_SUBDIM == DIM)
PQ_K = 16       # codebook entries per subspace (4-bit codes)

_PQ_OUT = "vec_id long, code0 int, code1 int, code2 int, code3 int, recon_err double"


def _pq_codebooks(
    embeddings: DataFrame, with_coarse: bool = False
) -> (
    list[tuple[list[int], list[list[float]]]]
    | tuple[list[tuple[list[int], list[list[float]]]], list[tuple[int, list[float]]]]
):
    """Per-subspace (code ids, centroid matrix) in quantized units — shared
    by pq_codes (encoding) and ivf_pq_probe_topk (asymmetric-distance
    lookup). All PQ_M sub-trainings run in ONE seeds collect + ONE sums job
    (opt r14, kmeans_centroids_spaces — was 2 jobs per subspace, each a
    full corpus scan); with_coarse=True folds the coarse quantizer's
    derived-K training into the SAME two jobs and returns (books, coarse).
    Results memoize under the same per-slice keys the old per-space path
    used, so either path serves the other's cache hits."""
    from .kmeans_core import kmeans_centroids_spaces

    spaces: list[tuple[int, int | None, int | None]] = [
        (mi * PQ_SUBDIM, PQ_SUBDIM, PQ_K) for mi in range(PQ_M)
    ]
    if with_coarse:
        spaces.append((0, None, None))
    results = kmeans_centroids_spaces(embeddings, spaces)
    books = []
    for mi in range(PQ_M):
        cents = sorted(results[mi])
        books.append(([c for c, _ in cents], [ce for _, ce in cents]))
    if with_coarse:
        return books, results[PQ_M]
    return books


def pq_codes(
    embeddings: DataFrame,
    books: list[tuple[list[int], list[list[float]]]] | None = None,
) -> DataFrame:
    from .buildcache import corpus_key, memo_put
    from .kmeans_core import _QUANT2, _quantized

    if books is None:
        books = _pq_codebooks(embeddings)
    # the code table is an index-build artifact (a deployment stores it
    # next to the inverted lists); memoize per (corpus, exact codebooks),
    # same discipline and kill switch as the assignment memo above
    ckey = corpus_key(
        embeddings, "pq_codes_" + hashlib.md5(repr(books).encode()).hexdigest()
    )
    if ckey is not None and ckey in _PQ_CODES_MEMO:
        return embeddings.sparkSession.read.parquet(_PQ_CODES_MEMO[ckey])

    def encode(batches):
        import numpy as np
        import pandas as pd

        mats = [
            (np.asarray(ids, dtype=np.int64), np.asarray(cm, dtype=np.float64))
            for ids, cm in books
        ]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["qe"].to_numpy()).astype(np.float64)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            total = np.zeros(len(pdf))
            for mi, (ids, C) in enumerate(mats):
                dists = sqdist_block(Q[:, mi * PQ_SUBDIM : (mi + 1) * PQ_SUBDIM], C)
                best = np.argmin(dists, axis=1)
                out[f"code{mi}"] = ids[best].astype(np.int32)
                total = total + dists[np.arange(len(pdf)), best]
            out["recon_err"] = grid(total / _QUANT2, 1e6)
            yield pd.DataFrame(out)

    out = _quantized(embeddings).mapInPandas(encode, _PQ_OUT)
    if ckey is not None:
        import os as _os

        from .pin import scratch_dir

        path = _os.path.join(scratch_dir("pq_codes_"), "codes")
        out.write.mode("overwrite").parquet(path)
        memo_put(_PQ_CODES_MEMO, ckey, path)
        return embeddings.sparkSession.read.parquet(path)
    return out


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_codes(load_table(spark, sf_dir, "embeddings"))


def _pq_sql() -> str:
    from .kmeans_core import _QUANT, _QUANT2, kmeans_sub_cte

    subs = ",".join(
        kmeans_sub_cte(f"s{mi}", mi * PQ_SUBDIM, PQ_SUBDIM, PQ_K) for mi in range(PQ_M)
    )
    err_sum = " + ".join(f"a1_s{mi}.dist" for mi in range(PQ_M))
    codes = ",\n       ".join(
        f"CAST(a1_s{mi}.cluster AS INT) AS code{mi}" for mi in range(PQ_M)
    )
    joins = " ".join(f"JOIN a1_s{mi} USING (vec_id)" for mi in range(1, PQ_M))
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_QUANT} + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),{subs}
SELECT vec_id,
       {codes},
       floor(({err_sum}) / {_QUANT2} * 1000000.0 + 0.5) / 1000000.0 AS recon_err
FROM a1_s0 {joins}
"""


SQL_PQ_CODES = _pq_sql()

QUERIES["pq_codes"] = q_pq_codes
ORACLES["pq_codes"] = SQL_PQ_CODES


# ---------------------------------------------------------------------------
# IVF-PQ probe (r5): the two halves composed into the full FAISS IVF-PQ
# shape (Jegou et al. 2011) — coarse quantizer routes each query to its
# nprobe nearest inverted lists; candidates in those lists are ranked by
# ASYMMETRIC distance (exact query subvector vs the doc's PQ-code
# centroid — the doc's raw vector is never read at this stage); only the
# top shortlist fetches raw vectors for the exact-cosine rerank. The
# default shortlist budget SCALES with nprobe (IVFPQ_RERANK per probed
# list): the r9 recall rung (examples/ann_recall_rung.py) measured that
# a FIXED window is crowded by ADC candidates as nprobe grows — recall
# fell 0.81 -> 0.64 across nprobe 1..8 at sf10 — while the scaled
# budget climbs 0.81 -> 0.98, restoring "more probes, better answers";
# cost stays bounded (the rerank join is <= n_queries x rerank ids).
#
# 100 TB shape: the ADC stage scans the NARROW codes table (4 ints/row,
# 16x smaller than raw vectors) joined to broadcast queries on the
# centroid key; codebooks ride the task closure as literal maps
# (M x PQ_K x PQ_SUBDIM doubles — a bit-budget constant); the raw-vector
# fetch is a broadcast semi-sized join of <= n_queries x rerank ids.
# That IS the reason IVF-PQ exists: candidate scoring touches compressed
# codes only.
#
# Parity: ADC terms are per-subspace sequential IEEE folds over quantized
# units ((q_i - c_i)^2 in dim order), summed left-assoc across subspaces
# — the oracle's list_reduce + `+` chain performs the identical op
# sequence, and shortlist/final ties break on d_id, so both engines pick
# identical shortlists and identical top-k.
# ---------------------------------------------------------------------------

IVFPQ_RERANK = 50


def ivf_pq_probe_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                      k: int = TOP_K, nprobe: int = IVF_NPROBE,
                      rerank: int | None = None,
                      cents: DataFrame | None = None) -> DataFrame:
    from .kmeans_core import _QUANT

    if rerank is None:
        # scale the exact-rerank window with the probed volume (r9, see
        # the block comment above) — the SQL twin re-derives the same
        # IVFPQ_RERANK * IVF_NPROBE budget at the registered defaults
        rerank = IVFPQ_RERANK * nprobe
    # opt r14: ONE batched training (seeds + sums jobs shared by the coarse
    # quantizer and all PQ_M subspaces), and the codebooks are trained once
    # and passed to pq_codes instead of re-derived there — the cold build
    # previously trained the PQ codebooks twice (once inside pq_codes, once
    # for the ADC lookup tables) across 11 scan jobs.
    if cents is None:
        books, coarse = _pq_codebooks(embeddings, with_coarse=True)
        cents = _cents_df(embeddings.sparkSession, coarse)
    else:
        books = _pq_codebooks(embeddings)
    assign = ivf_assignments(embeddings, cents)
    codes = pq_codes(embeddings, books=books).select(
        "vec_id", *[f"code{mi}" for mi in range(PQ_M)]
    )
    # code -> sub-centroid literal maps (the ADC lookup tables)
    luts = [
        F.create_map(
            *[
                part
                for cid, ce in zip(ids, cmat)
                for part in (F.lit(int(cid)), F.array(*[F.lit(float(v)) for v in ce]))
            ]
        )
        for ids, cmat in books
    ]
    docs = assign.join(codes, "vec_id").select(
        F.col("vec_id").alias("d_id"),
        F.col("centroid_id").alias("d_cent"),
        *[F.col(f"code{mi}") for mi in range(PQ_M)],
    )
    qvecs = embeddings.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("v_norm")
    )
    probes = _centroid_topn(cents, qvecs, nprobe)
    q_qe = F.transform(
        F.col("q_emb"),
        lambda x: F.floor(x.cast("double") * F.lit(_QUANT) + F.lit(0.5)).cast("long"),
    )
    queries = (
        qvecs.select(
            F.col("vec_id"),
            F.col("embedding").alias("q_emb"),
            F.col("v_norm").alias("q_norm"),
        )
        .join(probes, "vec_id")
        .select(
            F.col("vec_id").alias("q_id"), "q_emb", "q_norm",
            q_qe.alias("q_qe"),
            F.col("centroid_id").alias("q_cent"),
        )
    )
    cand = docs.join(
        F.broadcast(queries),
        (F.col("q_cent") == F.col("d_cent")) & (F.col("q_id") != F.col("d_id")),
    )
    # ADC: per-subspace (q - codebook[code])^2 fold in dim order, summed
    # left-assoc across the M subspaces
    adc = None
    for mi in range(PQ_M):
        ce = F.element_at(luts[mi], F.col(f"code{mi}"))
        qs = F.slice(F.col("q_qe"), mi * PQ_SUBDIM + 1, PQ_SUBDIM)
        term = _fold(
            F.zip_with(
                qs, ce, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
            )
        )
        adc = term if adc is None else adc + term
    w_adc = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("d_id"))
    shortlist = (
        cand.select("q_id", "d_id", "q_emb", "q_norm", adc.alias("adc"))
        .withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= rerank)
        .select("q_id", "d_id", "q_emb", "q_norm")
    )
    # raw doc vectors fetched ONLY for the shortlist
    dvecs = embeddings.select(
        F.col("vec_id").alias("d_id"),
        F.col("embedding").alias("d_emb"),
        _norm(F.col("embedding")).alias("d_norm"),
    )
    rescored = dvecs.join(F.broadcast(shortlist), "d_id").select(
        "q_id",
        "d_id",
        round_half_up(
            _dot(F.col("q_emb"), F.col("d_emb")) / (F.col("q_norm") * F.col("d_norm")), 9
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("d_id"))
    return (
        rescored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "d_id", "cosine", F.col("rnk").cast("int").alias("rnk"))
    )


def q_ivf_pq_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_pq_probe_topk(load_table(spark, sf_dir, "embeddings", spread=True))


def _ivfpq_sql() -> str:
    from .kmeans_core import kmeans_sub_cte

    subs = ",".join(
        kmeans_sub_cte(f"s{mi}", mi * PQ_SUBDIM, PQ_SUBDIM, PQ_K) for mi in range(PQ_M)
    )

    def qdist(mi: int) -> str:
        lo = mi * PQ_SUBDIM
        return (
            f"list_reduce(list_transform(range(1, {PQ_SUBDIM + 1}), "
            f"i -> (CAST(qq.qe[{lo} + i] AS DOUBLE) - cb{mi}.ce[i]) "
            f"* (CAST(qq.qe[{lo} + i] AS DOUBLE) - cb{mi}.ce[i])), "
            f"(acc, x) -> acc + x)"
        )

    adc_terms = " + ".join(qdist(mi) for mi in range(PQ_M))
    code_joins = "\n  ".join(
        f"JOIN a1_s{mi} ds{mi} ON ds{mi}.vec_id = d.vec_id "
        f"JOIN c1_s{mi} cb{mi} ON cb{mi}.cluster = ds{mi}.cluster"
        for mi in range(PQ_M)
    )
    return f"""
WITH {_ivf_cte()},{subs},
qprobes AS (
  SELECT vec_id AS q_id, c_id AS centroid_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id ASC) AS rn
        FROM cscored WHERE vec_id < {N_QUERIES}) t
  WHERE rn <= {IVF_NPROBE}
),
adc AS (
  SELECT p.q_id, d.vec_id AS d_id, {adc_terms} AS adc
  FROM qprobes p
  JOIN assign d ON p.centroid_id = d.centroid_id AND d.vec_id <> p.q_id
  {code_joins}
  JOIN q qq ON qq.vec_id = p.q_id
),
shortlist AS (
  SELECT q_id, d_id
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, d_id ASC) AS rn
        FROM adc) t
  WHERE rn <= {IVFPQ_RERANK * IVF_NPROBE}
),
rescored AS (
  SELECT s.q_id, s.d_id,
         floor((list_reduce(list_transform(range(1, len(qb.e) + 1), i -> qb.e[i] * db.e[i]),
                            (acc, x) -> acc + x)
                / (qn.nrm * dn.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM shortlist s
  JOIN base qb ON qb.vec_id = s.q_id
  JOIN base db ON db.vec_id = s.d_id
  JOIN norms qn ON qn.vec_id = s.q_id
  JOIN norms dn ON dn.vec_id = s.d_id
)
SELECT q_id, d_id, cosine, CAST(rnk AS INT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, d_id ASC) AS rnk
      FROM rescored) t
WHERE rnk <= {TOP_K}
"""


SQL_IVF_PQ_PROBE_TOPK = _ivfpq_sql()

QUERIES["ivf_pq_probe_topk"] = q_ivf_pq_probe_topk
ORACLES["ivf_pq_probe_topk"] = SQL_IVF_PQ_PROBE_TOPK


# ---------------------------------------------------------------------------
# ANN recall evaluation: the harness every vector-index deployment runs
# before flipping traffic — recall@k of every ANN variant against the
# exact brute-force baseline. Train ONCE, probe per variant, semi-join
# each approximate top-k against the exact top-k on (q_id, d_id).
# r5 adds the ivf_pq row, so the table now spans the full recall/cost
# ladder: ivf_flat@1 <= ivf_flat@2 (more lists probed) and
# ivf_pq@2 <= ivf_flat@2 (pq ranks a SUBSET of flat@2's candidates —
# set-monotone hits, asserted in tests). Output is 3 tiny rows; the eval
# itself is equi-joins over k*n_queries rows — free at any corpus size
# (the cost is the probe plans it measures).
# ---------------------------------------------------------------------------


def ann_recall_eval(embeddings: DataFrame, n_queries: int = N_QUERIES,
                    k: int = TOP_K, documents: DataFrame | None = None) -> DataFrame:
    from .pin import pin

    cents = _learned_centroids(embeddings)
    # r4: pin the brute-force ground truth — it appeared as one subtree
    # copy per variant branch (a semi-join and a count agg each), every
    # copy re-running the O(corpus x queries) exact scoring; the pinned
    # relation is k x n_queries rows, evaluated once (EAGER at build,
    # same contract as the centroid training it sits next to). r8 keeps
    # rnk in the pin: the hybrid-fusion row reuses it as the exact dense
    # ranking.
    exact = pin(
        cosine_topk(embeddings, n_queries, k).select("q_id", "d_id", "rnk"),
        "ann_exact",
    )
    variants = [
        ("ivf_flat", 1, ivf_probe_topk(embeddings, n_queries, k, 1, cents)),
        ("ivf_flat", IVF_NPROBE,
         ivf_probe_topk(embeddings, n_queries, k, IVF_NPROBE, cents)),
        ("ivf_pq", IVF_NPROBE,
         ivf_pq_probe_topk(embeddings, n_queries, k, IVF_NPROBE, cents=cents)),
    ]
    def _recall_row(name: str, nprobe: int, approx: DataFrame, truth: DataFrame):
        hits = approx.select("q_id", "d_id").join(
            truth.select("q_id", "d_id"), ["q_id", "d_id"], "left_semi"
        )
        return (
            hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .crossJoin(
                F.broadcast(truth.agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
            )
            .select(
                F.lit(name).alias("variant"),
                F.lit(nprobe).cast("int").alias("nprobe"),
                "n_exact",
                "n_hits",
                round_half_up(
                    F.col("n_hits").cast("double") / F.col("n_exact").cast("double"), 6
                ).alias("recall"),
            )
        )

    parts = [
        _recall_row(name, nprobe, approx, exact) for name, nprobe, approx in variants
    ]
    if documents is not None:
        # r8 (VERDICT ask #6): RRF-RANKING recall of the production
        # fusion — BM25 fused with the IVF-PQ probe — against the same
        # fusion over the exact dense ranking. The lexical side is ONE
        # plan reused by both fusions (bm25_scored pins its tf); the
        # exact-dense side reuses the pinned ground truth above; the
        # fused-exact set pins because it serves as both semi-join side
        # and denominator (k x n_queries rows).
        lex = _hybrid_lex_ranks(documents)
        fused_exact = pin(
            _hybrid_rrf_fuse(
                exact.select("q_id", "d_id", F.col("rnk").alias("dense_rnk")), lex
            ).select("q_id", "d_id"),
            "hybrid_exact",
        )
        dense_ann = ivf_pq_probe_topk(
            embeddings, n_queries, k, IVF_NPROBE, cents=cents
        ).select("q_id", "d_id", F.col("rnk").alias("dense_rnk"))
        fused_ann = _hybrid_rrf_fuse(dense_ann, lex).select("q_id", "d_id")
        parts.append(
            _recall_row("hybrid_rrf_pq", IVF_NPROBE, fused_ann, fused_exact)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_eval(
        load_table(spark, sf_dir, "embeddings"),
        documents=load_table(spark, sf_dir, "documents"),
    )


def _recall_row_sql(
    variant: str, nprobe: int, rel: str, truth: str = "exact", ex: str = "ex"
) -> str:
    return f"""
SELECT '{variant}' AS variant, CAST({nprobe} AS INT) AS nprobe, n_exact,
       CAST((SELECT count(*) FROM {rel} JOIN {truth} USING (q_id, d_id)) AS BIGINT) AS n_hits,
       floor(CAST((SELECT count(*) FROM {rel} JOIN {truth} USING (q_id, d_id)) AS DOUBLE)
             / CAST(n_exact AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS recall
FROM {ex}
"""


def _sql_ann_recall_eval() -> str:
    # built at the END of the module: the hybrid_rrf_pq row embeds the
    # two fusion queries, whose SQL is composed after this definition
    return f"""
WITH exact AS ({SQL_COSINE_TOPK}),
a1 AS ({SQL_IVF_PROBE_TOPK}),
a2 AS ({SQL_IVF_PROBE2_TOPK}),
a3 AS ({SQL_IVF_PQ_PROBE_TOPK}),
hx AS (SELECT q_id, d_id FROM ({_sql_hybrid_rrf(_SQL_HYBRID_DENSE_EXACT)}) t),
ha AS (SELECT q_id, d_id FROM ({_sql_hybrid_rrf(_SQL_HYBRID_DENSE_ANN)}) t),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
hex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM hx)
{_recall_row_sql("ivf_flat", 1, "a1")}
UNION ALL
{_recall_row_sql("ivf_flat", IVF_NPROBE, "a2")}
UNION ALL
{_recall_row_sql("ivf_pq", IVF_NPROBE, "a3")}
UNION ALL
{_recall_row_sql("hybrid_rrf_pq", IVF_NPROBE, "ha", truth="hx", ex="hex")}
"""


QUERIES["ann_recall_eval"] = q_ann_recall_eval
# ORACLES["ann_recall_eval"] is registered at the end of the module,
# once the hybrid-fusion SQL pieces it embeds exist


# ---------------------------------------------------------------------------
# Embedding mean-centering (ANN preprocessing): subtract the corpus-mean
# vector, report pre/post norms — the standard recall-improving transform
# before IVF/PQ training (centering spreads cosine mass away from the
# dominant direction).
#
# The cross-row per-dim mean is the only global statistic. Determinism:
# float sums re-associate across partitions, so the mean is computed from
# QUANTIZED integer components (floor(x * 2^20 + 0.5) as BIGINT — same
# discipline as kmeans_core's exact centroid sums): 64 literal per-dim
# LongType sums in ONE aggregate pass (no posexplode — the N×D row blowup
# and its shuffle never exist), then mean_i = CAST(sum AS DOUBLE) /
# (n * 2^20), exact for n·2^20 < 2^53. The 1-row mean joins back via
# broadcast nested-loop (kilobytes); centered components and norms are
# per-row sequential IEEE folds — bit-identical in the oracle.
# ---------------------------------------------------------------------------

CENTER_SCALE = 1 << 20


def embedding_center(embeddings: DataFrame) -> DataFrame:
    qcomp = [
        F.floor(F.element_at("embedding", i + 1).cast("double") * CENTER_SCALE + F.lit(0.5))
        .cast("long")
        .alias(f"q{i}")
        for i in range(DIM)
    ]
    sums = (
        embeddings.select(*qcomp)
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"q{i}").alias(f"s{i}") for i in range(DIM)],
        )
        .select(
            F.array(*[
                (F.col(f"s{i}").cast("double")
                 / (F.col("n").cast("double") * F.lit(float(CENTER_SCALE))))
                for i in range(DIM)
            ]).alias("mean_vec")
        )
    )
    centered = F.zip_with(
        F.col("embedding"), F.col("mean_vec"), lambda x, m: x.cast("double") - m
    )
    return (
        embeddings.join(F.broadcast(sums))
        .select(
            "vec_id",
            round_half_up(_norm(F.col("embedding")), 9).alias("pre_norm"),
            round_half_up(
                F.sqrt(_fold(F.transform(centered, lambda c: c * c))), 9
            ).alias("centered_norm"),
            round_half_up(_fold(centered), 9).alias("centered_sum"),
        )
    )


def q_embedding_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_center(load_table(spark, sf_dir, "embeddings", spread=True))


SQL_EMBEDDING_CENTER = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
q AS (
  SELECT vec_id, list_transform(e, x -> CAST(floor(x * {CENTER_SCALE} + 0.5) AS BIGINT)) AS qe
  FROM base
),
sums AS (
  SELECT u.i AS dim, SUM(qe[u.i]) AS s
  FROM q, LATERAL unnest(generate_series(1, {DIM})) AS u(i)
  GROUP BY u.i
),
meanv AS (
  SELECT list(CAST(s AS DOUBLE)
              / (CAST((SELECT count(*) FROM embeddings) AS DOUBLE) * {CENTER_SCALE}.0)
              ORDER BY dim) AS m
  FROM sums
),
cent AS (
  SELECT vec_id, e,
         list_transform(range(1, {DIM} + 1), i -> e[i] - mv.m[i]) AS c
  FROM base, meanv mv
)
SELECT vec_id,
       floor(sqrt(list_reduce(list_transform(e, x -> x * x), (acc, x) -> acc + x))
             * 1000000000.0 + 0.5) / 1000000000.0 AS pre_norm,
       floor(sqrt(list_reduce(list_transform(c, x -> x * x), (acc, x) -> acc + x))
             * 1000000000.0 + 0.5) / 1000000000.0 AS centered_norm,
       floor(list_reduce(c, (acc, x) -> acc + x)
             * 1000000000.0 + 0.5) / 1000000000.0 AS centered_sum
FROM cent
"""

QUERIES["embedding_center"] = q_embedding_center
ORACLES["embedding_center"] = SQL_EMBEDDING_CENTER


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (r7): the production
# retrieval stack fuses a LEXICAL ranking (BM25 posting-list join) with
# a DENSE ranking (embedding cosine) — RRF (Cormack & Clarke SIGIR'09)
# is the standard fusion because it needs no score calibration: each
# list contributes 1/(K + rank). Here the N_QUERIES query docs (vec_id
# == doc_id in the test corpus) retrieve TOP_K docs three ways:
#   lexical: the query doc's top-BM25 terms equi-join the FULL BM25
#     posting relation (corpusops.bm25_scored) — the inverted-index
#     impact join, one shuffle on term, never a doc×doc product; the
#     per-doc score SUMs DECIMAL(18,4)-cast weights so the fold is
#     exact and order-independent (the cross-engine discipline);
#   dense: cosine_topk verbatim (broadcast queries × one corpus scan);
#   fused: full-outer on (q, d), rrf = Σ 1/(60 + rank) with absent
#     ranks contributing 0 — a fixed two-term IEEE expression, rounded
#     half-up to 9 so both engines hash identically.
# Scale: lexical is bounded by |query terms| × posting-list length (the
# classic impact-ordered shape); dense is the brute-force baseline whose
# scale path is the IVF/LSH variants registered alongside; the fusion
# itself is top-K×|queries| rows — driver-trivial at any corpus size.
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard damping constant from the RRF paper


def _hybrid_lex_ranks(documents: DataFrame) -> DataFrame:
    """(q_id, d_id, lex_rnk): per-query-doc lexical retrieval ranks — the
    BM25 posting-list impact join (one shuffle on term, never doc×doc);
    the per-doc score SUMs DECIMAL(18,4)-cast weights so the fold is
    exact and order-independent. Shared by every fusion variant (compute
    once, fuse many)."""
    from .corpusops import BM25_K, bm25_scored

    scored = bm25_scored(documents)
    wq = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("term"))
    qterms = (
        scored.filter(F.col("doc_id") < N_QUERIES)
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= BM25_K)
        .select(F.col("doc_id").alias("q_id"), "term")
    )
    lex_scores = (
        qterms.join(
            scored.select(F.col("doc_id").alias("d_id"), "term", "bm25"), "term"
        )
        .filter(F.col("d_id") != F.col("q_id"))
        .groupBy("q_id", "d_id")
        .agg(F.sum(F.col("bm25").cast("decimal(18,4)")).alias("lex_score"))
    )
    wl = Window.partitionBy("q_id").orderBy(F.desc("lex_score"), F.asc("d_id"))
    return (
        lex_scores.withColumn("lex_rnk", F.row_number().over(wl))
        .filter(F.col("lex_rnk") <= TOP_K)
        .select("q_id", "d_id", "lex_rnk")
    )


def _hybrid_rrf_fuse(dense: DataFrame, lex: DataFrame) -> DataFrame:
    """RRF fusion of a dense ranking (q_id, d_id, dense_rnk) with the
    lexical ranking: full-outer on (q, d), rrf = Σ 1/(K + rank) with
    absent ranks contributing 0 — a fixed two-term IEEE expression,
    rounded half-up to 9 so both engines hash identically. The fusion
    input is top-K×|queries| rows — driver-trivial at any corpus size."""
    fused = dense.join(lex, ["q_id", "d_id"], "full_outer").select(
        "q_id",
        "d_id",
        F.col("dense_rnk").cast("int").alias("dense_rnk"),
        F.col("lex_rnk").cast("int").alias("lex_rnk"),
        round_half_up(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rnk")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rnk")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("d_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "d_id", "dense_rnk", "lex_rnk", "rrf", F.col("rnk").cast("int").alias("rnk"))
    )


def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    embeddings = load_table(spark, sf_dir, "embeddings")
    dense = cosine_topk(embeddings).select(
        "q_id", "d_id", F.col("rnk").alias("dense_rnk")
    )
    return _hybrid_rrf_fuse(dense, _hybrid_lex_ranks(documents))


def hybrid_retrieval_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION wiring of the fusion (r8, VERDICT ask #6): the
    dense side is the IVF-PQ probe — coarse-quantizer routing + ADC over
    compressed codes + exact rerank of a bounded shortlist — instead of
    the brute-force corpus scan, so the whole hybrid stack now scales
    the way a deployed retrieval system does (the posting-list join and
    the fusion were already bounded; the dense scan was the 100 TB
    outlier). Ranking recall of this variant against the exact-dense
    fusion is reported inside ann_recall_eval's table (hybrid_rrf_pq
    row)."""
    documents = load_table(spark, sf_dir, "documents")
    embeddings = load_table(spark, sf_dir, "embeddings")
    dense = ivf_pq_probe_topk(embeddings).select(
        "q_id", "d_id", F.col("rnk").alias("dense_rnk")
    )
    return _hybrid_rrf_fuse(dense, _hybrid_lex_ranks(documents))


# dense CTE bodies for the two fusion variants: each must define a
# relation dense(q_id, d_id, dense_rnk)
_SQL_HYBRID_DENSE_EXACT = f"""
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
),
norms AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(e, x -> x * x), (acc, x) -> acc + x)) AS nrm
  FROM base
),
cscored AS (
  SELECT q.vec_id AS q_id, d.vec_id AS d_id,
         floor((list_reduce(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * d.e[i]),
                            (acc, x) -> acc + x)
                / (qn.nrm * dn.nrm)) * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
  FROM base q
  JOIN base d ON q.vec_id <> d.vec_id
  JOIN norms qn ON q.vec_id = qn.vec_id
  JOIN norms dn ON d.vec_id = dn.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
dense AS (
  SELECT q_id, d_id, rnk AS dense_rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, d_id ASC) AS rnk
    FROM cscored
  ) t WHERE rnk <= {TOP_K}
)"""

# the IVF-PQ probe rides in as a self-contained subquery (its own WITH
# scope), exactly the relation the Spark variant reuses
_SQL_HYBRID_DENSE_ANN = f"""
dense AS (
  SELECT q_id, d_id, rnk AS dense_rnk FROM ({SQL_IVF_PQ_PROBE_TOPK}) ivfpq
)"""


def _sql_hybrid_rrf(dense_cte: str) -> str:
    from .corpusops import BM25_K, SQL_BM25_SCORED_CTES

    return f"""
WITH {SQL_BM25_SCORED_CTES},
{dense_cte},
qterms AS (
  SELECT doc_id AS q_id, term FROM (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) AS rnk
    FROM bm25s WHERE doc_id < {N_QUERIES}
  ) t WHERE rnk <= {BM25_K}
),
lex_scores AS (
  SELECT q.q_id, s.doc_id AS d_id, SUM(CAST(s.bm25 AS DECIMAL(18,4))) AS lex_score
  FROM qterms q JOIN bm25s s ON q.term = s.term AND s.doc_id <> q.q_id
  GROUP BY 1, 2
),
lex AS (
  SELECT q_id, d_id, rnk AS lex_rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY lex_score DESC, d_id ASC) AS rnk
    FROM lex_scores
  ) t WHERE rnk <= {TOP_K}
),
fused AS (
  SELECT COALESCE(dense.q_id, lex.q_id) AS q_id,
         COALESCE(dense.d_id, lex.d_id) AS d_id,
         CAST(dense.dense_rnk AS INT) AS dense_rnk,
         CAST(lex.lex_rnk AS INT) AS lex_rnk,
         floor((COALESCE(1.0 / ({RRF_K} + dense.dense_rnk), 0.0)
                + COALESCE(1.0 / ({RRF_K} + lex.lex_rnk), 0.0)) * 1000000000.0 + 0.5)
           / 1000000000.0 AS rrf
  FROM dense FULL OUTER JOIN lex
    ON dense.q_id = lex.q_id AND dense.d_id = lex.d_id
)
SELECT q_id, d_id, dense_rnk, lex_rnk, rrf, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, d_id ASC) AS rnk
  FROM fused
) t
WHERE rnk <= {TOP_K}
"""


QUERIES["hybrid_retrieval_rrf"] = hybrid_retrieval_rrf
ORACLES["hybrid_retrieval_rrf"] = _sql_hybrid_rrf(_SQL_HYBRID_DENSE_EXACT)
QUERIES["hybrid_retrieval_rrf_ann"] = hybrid_retrieval_rrf_ann
ORACLES["hybrid_retrieval_rrf_ann"] = _sql_hybrid_rrf(_SQL_HYBRID_DENSE_ANN)
# deferred from the recall-eval section: embeds the fusion SQL above
ORACLES["ann_recall_eval"] = _sql_ann_recall_eval()
