"""Training-corpus preparation operators (north-star LLM-pipeline set):
PII scrubbing, deterministic sampling, shard assignment, and near-dup
clustering (connected components over the LSH candidate graph).

Portability: all hashes are md5-derived (identical hex in Spark and DuckDB);
sampling/sharding use the hash-int trick validated in dedup.simhash. The
connected-components operator is iterative (min-label propagation driven to
a fixpoint); its oracle is a DuckDB recursive CTE computing min reachable
node — one of the few genuinely non-single-query ops, still oracle-checked.

At 100 TB: scrub/sample/shard are narrow zero-shuffle projections (sharding
is exactly how a corpus gets split for distributed training jobs); label
propagation does one self-join shuffle per iteration and converges in
O(graph diameter) rounds — for billion-edge dedup graphs switch to the
large-star/small-star variant (same join primitive, fewer rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .textops import ws_words_col
from ..functions.numeric import round_half_up
from .dedup import minhash_lsh_candidates
from .pin import pin

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM_RE = r"\d{6,}"

SAMPLE_MOD = 10       # keep 1/10 of docs
N_SHARDS = 64
COMPONENT_MIN_J = 0.5


def _hash_int(col) -> F.Column:
    """First 32 bits of md5 of the column's string form, as BIGINT —
    engine-portable uniform hash (same trick as dedup.simhash)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


_HASH_INT_SQL = "('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::UBIGINT::BIGINT"


# ---------------------------------------------------------------------------
# PII scrub: redact emails and long digit runs.
# ---------------------------------------------------------------------------

def pii_scrub(documents: DataFrame) -> DataFrame:
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        LONGNUM_RE,
        "<NUM>",
    )
    return documents.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        (scrubbed != F.col("text")).alias("was_scrubbed"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scrub(load_table(spark, sf_dir, "documents"))


SQL_PII_SCRUB = f"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                      '{LONGNUM_RE}', '<NUM>', 'g') AS clean_text,
       regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                      '{LONGNUM_RE}', '<NUM>', 'g') <> text AS was_scrubbed
FROM documents
"""


# ---------------------------------------------------------------------------
# Deterministic sampling: md5-hash threshold on the key — reproducible on
# any engine/cluster, unlike TABLESAMPLE.
# ---------------------------------------------------------------------------

def deterministic_sample(documents: DataFrame, mod: int = SAMPLE_MOD) -> DataFrame:
    return documents.filter(_hash_int(F.col("doc_id")) % mod == 0).select("doc_id", "text")


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deterministic_sample(load_table(spark, sf_dir, "documents"))


SQL_DETERMINISTIC_SAMPLE = f"""
SELECT doc_id, text
FROM documents
WHERE {_HASH_INT_SQL.format(col='doc_id')} % {SAMPLE_MOD} = 0
"""


# ---------------------------------------------------------------------------
# Shard assignment + balance histogram: how a corpus splits across training
# workers. Zero-shuffle assignment; the histogram is one tiny agg.
# ---------------------------------------------------------------------------

def shard_histogram(documents: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    shard = (_hash_int(F.col("doc_id")) % n_shards).cast("int")
    return (
        documents.select(shard.alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def q_shard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_histogram(load_table(spark, sf_dir, "documents"))


SQL_SHARD_HISTOGRAM = f"""
SELECT CAST({_HASH_INT_SQL.format(col='doc_id')} % {N_SHARDS} AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components of the LSH candidate graph
# (est_jaccard >= 0.5), component id = min doc_id in the component.
# Iterative min-label propagation with a driver-side convergence check —
# the Pregel shape. Oracle: DuckDB recursive CTE (min reachable node).
# ---------------------------------------------------------------------------

EDGE_ROWS_PER_PARTITION = 500_000  # ~tens of MB of (long, long) rows


def _graph_partitions(n_edge_rows: int, rows_per_partition: int) -> int:
    """Partition count sized to the GRAPH, not the corpus: the candidate
    graph is orders of magnitude smaller than the documents table, so its
    iterative joins should run at their own parallelism (1 for test-scale
    graphs, growing linearly with edge count, capped well below any
    realistic cluster's task ceiling)."""
    return max(1, min(4096, -(-n_edge_rows // rows_per_partition)))


def _sized(df: DataFrame, n_parts: int, key: str) -> DataFrame:
    """Resize to the graph-derived partition count: narrow coalesce when
    shrinking (no shuffle — the common case on small graphs), hash
    repartition on the join key when the graph needs more parallelism."""
    cur = df.rdd.getNumPartitions()
    if n_parts < cur:
        return df.coalesce(n_parts)
    if n_parts > cur:
        return df.repartition(n_parts, key)
    return df


# DataFrame-valued build memo (buildcache.py keying): four registered
# queries (this one, dedup_survivors, training_corpus,
# quality_filter_funnel) each re-ran the full LSH + label-propagation
# chain at build time. The labels are a pure function of the corpus bytes
# and the listed parameters; the key additionally pins the SparkSession
# (a DataFrame is session-tied) and the pin mode (so a local-vs-table
# comparison run really executes both paths). SPARK_GRAFT_BUILD_CACHE=0
# disables.
_COMPONENTS_CACHE: dict = {}


def neardup_components(
    documents: DataFrame,
    max_iters: int = 50,
    rows_per_partition: int = EDGE_ROWS_PER_PARTITION,
) -> DataFrame:
    import os

    from .buildcache import corpus_key

    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    ckey = corpus_key(
        documents,
        id(documents.sparkSession),
        max_iters,
        rows_per_partition,
        COMPONENT_MIN_J,
        os.environ.get("SPARK_GRAFT_PIN", "local"),
    )
    if ckey is not None and ckey in _COMPONENTS_CACHE:
        return _COMPONENTS_CACHE[ckey]
    pairs = minhash_lsh_candidates(documents).filter(
        F.col("est_jaccard") >= COMPONENT_MIN_J
    )
    # Undirected edge list, both directions, pinned (pin.py: parquet table
    # under SPARK_GRAFT_PIN=table, else localCheckpoint): every iteration
    # re-reads the graph, and the one count() that sizes the partitioning
    # is nearly free on the materialized copy (narrow re-sizes then stack
    # on it without a second materialization).
    edges = pin(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct(),
        "neardup_edges",
    )
    n_parts = _graph_partitions(edges.count(), rows_per_partition)
    edges = _sized(edges, n_parts, "dst")
    # r13 (fewer fixed-latency jobs per round, same fixpoint — the loop's
    # cost at any scale is rounds x per-round barriers, guide §1.2/§2.4):
    # (a) iteration-0's hook is FUSED into initialization — with identity
    #     labels, "min label over neighbors" is just min(dst) per src, one
    #     map-side-combined aggregate instead of a join over a labels
    #     relation that is by construction the identity. NOTE: only the
    #     hook is fused; the pointer-jump the old iteration 0 also ran is
    #     dropped, so convergence may take ONE extra hook+jump round — the
    #     fixpoint is unchanged and max_iters bounds it, but round counts
    #     are not strictly round-for-round comparable with the old loop;
    # (b) the convergence check carries the previous label as a column
    #     through the round and counts label != prev on the freshly
    #     checkpointed result — a narrow scan, replacing the old
    #     new-vs-old equi-join + count (one join per round removed).
    # The update rules (hook = min over neighbor labels, then pointer
    # jump label := label(label)) are unchanged, so the fixpoint — min
    # reachable doc_id per component, the oracle's contract — is the
    # same; only how fast the loop reaches and detects it moved.
    labels = _sized(
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("node"), F.least(F.col("src"), F.col("m")).alias("label")),
        n_parts,
        "node",
    ).localCheckpoint()
    for it in range(max_iters):
        # hook: take the min label over neighbors
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hooked = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.col("label").alias("prev"),
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
        )
        # shortcut (pointer jumping): label(v) := label(label(v)) — drops
        # convergence from O(diameter) to O(log diameter) rounds
        lz = hooked.select(F.col("node").alias("z_node"), F.col("label").alias("z_label"))
        new_labels = (
            hooked.join(lz, hooked.label == lz.z_node, "left")
            .select(
                "node",
                "prev",
                F.coalesce(F.col("z_label"), F.col("label")).alias("label"),
            )
        )
        new_labels = _sized(new_labels, n_parts, "node").localCheckpoint()
        changed = new_labels.filter(F.col("label") != F.col("prev")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        # the cap is a safety bound, not an answer: labels that are still
        # moving are not the components (min reachable doc_id) yet
        raise RuntimeError(
            f"neardup_components: label propagation did not converge in "
            f"{max_iters} rounds ({changed} labels changed in the last one)"
        )
    out = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
    if ckey is not None:
        from .buildcache import memo_put

        memo_put(_COMPONENTS_CACHE, ckey, out)
    return out


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_components(load_table(spark, sf_dir, "documents", spread=True))


def _components_sql() -> str:
    from .dedup import SQL_MINHASH_LSH_CANDIDATES

    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({SQL_MINHASH_LSH_CANDIDATES}) c
  WHERE est_jaccard >= {COMPONENT_MIN_J}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, src AS dst FROM edges
  UNION
  SELECT r.src, e.dst
  FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS component
FROM reach
GROUP BY src
"""


SQL_NEARDUP_COMPONENTS = _components_sql()


# ---------------------------------------------------------------------------
# Vocabulary: corpus-wide top-K tokens by document frequency. Explode +
# one hash agg (tf = occurrences, df = docs containing) + TakeOrdered —
# the word-count shape that feeds tokenizer/vocab building. At 100 TB the
# agg is map-side-combined on token; head tokens are hot keys but the
# partial aggregation absorbs them.
# ---------------------------------------------------------------------------

VOCAB_K = 50


def _word_rows(documents: DataFrame) -> DataFrame:
    """(doc_id, word): full (non-distinct) whitespace tokenization of the
    lowercased text — one row per occurrence."""
    return documents.select(
        "doc_id",
        F.explode(ws_words_col(F.col("text"))).alias("word"),
    )


def _top_vocab(word_counts: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """The vocabulary ranking over per-word (word, tf, df) counts: most
    documents first, then most occurrences, then the word; the first k.
    vocab_topk and oov_rate both rank through here."""
    return word_counts.orderBy(F.desc("df"), F.desc("tf"), F.asc("word")).limit(k)


def vocab_topk(documents: DataFrame, k: int = VOCAB_K) -> DataFrame:
    return _top_vocab(
        _word_rows(documents)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.countDistinct("doc_id").cast("long").alias("df"),
        ),
        k,
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_topk(load_table(spark, sf_dir, "documents"))


SQL_WORDS_CTE = """
words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
)
"""

SQL_VOCAB_TOPK = f"""
WITH {SQL_WORDS_CTE}
SELECT word,
       CAST(count(*) AS BIGINT) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM words
GROUP BY word
ORDER BY df DESC, tf DESC, word ASC
LIMIT {VOCAB_K}
"""


# ---------------------------------------------------------------------------
# TF-IDF: per-document top-3 terms. idf is the RATIONAL form N/df (a plain
# double division — ln() differs in the last ulp across engines, a rational
# idf is rank-equivalent and cross-engine exact). Per-(doc,term) tf from one
# agg; df derived from tf rows (one row per doc-term already); the tf⋈df
# join shuffles on term — AQE splits head-token skew.
# ---------------------------------------------------------------------------

TFIDF_K = 3


def tfidf_topk_terms(documents: DataFrame, k: int = TFIDF_K) -> DataFrame:
    words = _word_rows(documents)
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    # pin tf: df is derived FROM tf, but without the pin Catalyst rewrites
    # the df branch into its own scan -> explode -> distinct chain (the
    # groupBy-over-groupBy decomposition), tokenizing and aggregating the
    # whole corpus TWICE. The r6 sf10 rung measured the duplicate chain +
    # an AQE mis-coalesce of its hyper-compressible word exchange (20M
    # dictionary-coded rows -> 1.5 MB -> one 26 s task) at 4-6x wall; the
    # pinned form is a single tokenize/aggregate pass and runs the
    # reported 36-44 s rung in ~7 s. Same eager-exec contract as the
    # other pin users (registry.py note).
    tf = pin(tf, "tfidf_tf")
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("word").alias("term"),
            "tf",
            "df",
            round_half_up(
                F.col("tf").cast("double") * F.col("n_docs") / F.col("df").cast("double"), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_topk_terms(load_table(spark, sf_dir, "documents"))


SQL_TFIDF_TOPK_TERMS = f"""
WITH {SQL_WORDS_CTE},
tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2
),
df AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
scored AS (
  SELECT tf.doc_id, tf.word AS term, tf.tf, df.df,
         floor((CAST(tf.tf AS DOUBLE)
                * (SELECT CAST(count(*) AS DOUBLE) FROM documents)
                / CAST(df.df AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS tfidf
  FROM tf JOIN df ON tf.word = df.word
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
) t
WHERE rnk <= {TFIDF_K}
"""


# ---------------------------------------------------------------------------
# Dedup survivors: one representative per near-dup component (its min
# doc_id — the component label itself), everything unclustered kept as-is.
# The per-corpus keep/drop decision a dedup stage feeds downstream.
# ---------------------------------------------------------------------------

def dedup_survivors(documents: DataFrame) -> DataFrame:
    comp = neardup_components(documents)
    return (
        documents.select("doc_id")
        .join(comp.withColumnRenamed("doc_id", "c_doc"), F.col("doc_id") == F.col("c_doc"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            (F.col("component").isNull() | (F.col("component") == F.col("doc_id"))).alias("keep"),
        )
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_survivors(load_table(spark, sf_dir, "documents", spread=True))


SQL_DEDUP_SURVIVORS = f"""
WITH comp AS ({SQL_NEARDUP_COMPONENTS})
SELECT d.doc_id,
       coalesce(comp.component, d.doc_id) AS component,
       (comp.component IS NULL OR comp.component = d.doc_id) AS keep
FROM documents d
LEFT JOIN comp ON d.doc_id = comp.doc_id
"""


# ---------------------------------------------------------------------------
# Training-corpus composition: the end-to-end corpus-prep decision — keep
# documents that are (a) near-dup survivors, (b) confidently English by the
# stopword language ID, (c) above a quality floor, (d) long enough. The
# three per-row signals are built as COLUMNS of one projection (textops
# exposes the expression builders), so the whole filter chain is ONE scan
# of documents plus the dedup-survivor join — at 100 TB that's the
# difference between one pass and four.
# ---------------------------------------------------------------------------

CORPUS_MIN_QUALITY = 0.58
CORPUS_MIN_TOKENS = 20


def training_corpus(documents: DataFrame) -> DataFrame:
    from .textops import predicted_lang_col, quality_score_col, ws_tokens_col

    t = F.col("text")
    sig = documents.select(
        "doc_id",
        ws_tokens_col(t).alias("ws_tokens"),
        quality_score_col(t).alias("quality_score"),
        predicted_lang_col(t).alias("predicted_lang"),
    ).filter(
        (F.col("predicted_lang") == "en")
        & (F.col("quality_score") >= CORPUS_MIN_QUALITY)
        & (F.col("ws_tokens") >= CORPUS_MIN_TOKENS)
    )
    # opt r14 (guide §2.4): the survivor decision needs only the DROP set —
    # component members that are not their component's representative.
    # keep = (component IS NULL OR component = doc_id) over unique doc_ids
    # is exactly "doc_id NOT IN {nodes with component != doc_id}", so an
    # ANTI join against the (candidate-graph-sized) drop set replaces the
    # old dedup_survivors LeftOuter join against a SECOND full documents
    # scan — one scan of documents total and one less shuffled relation.
    # No broadcast hint: at this sf AQE converts the anti join to broadcast
    # at runtime; on a dup-heavy 100 TB corpus the drop set can be
    # corpus-sized and the planner must stay free to shuffle it.
    drops = (
        neardup_components(documents)
        .filter(F.col("component") != F.col("doc_id"))
        .select("doc_id")
    )
    return sig.join(drops, "doc_id", "left_anti").select(
        "doc_id", "ws_tokens", "quality_score"
    )


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_corpus(load_table(spark, sf_dir, "documents", spread=True))


def _training_corpus_sql() -> str:
    from .textops import SQL_LANG_ID, SQL_TEXT_QUALITY, SQL_TOKEN_COUNTS

    return f"""
WITH surv AS ({SQL_DEDUP_SURVIVORS}),
lang AS ({SQL_LANG_ID}),
qual AS ({SQL_TEXT_QUALITY}),
toks AS ({SQL_TOKEN_COUNTS})
SELECT d.doc_id, toks.ws_tokens, qual.quality_score
FROM documents d
JOIN surv ON d.doc_id = surv.doc_id AND surv.keep
JOIN lang ON d.doc_id = lang.doc_id AND lang.predicted_lang = 'en'
JOIN qual ON d.doc_id = qual.doc_id AND qual.quality_score >= {CORPUS_MIN_QUALITY}
JOIN toks ON d.doc_id = toks.doc_id AND toks.ws_tokens >= {CORPUS_MIN_TOKENS}
"""


SQL_TRAINING_CORPUS = _training_corpus_sql()


# ---------------------------------------------------------------------------
# Contamination check: training documents sharing any 3-word shingle with a
# benchmark/eval subset (doc_id < CONTAM_BENCH). Benchmark shingles are
# eval-set-sized → broadcast; the check is a broadcast equi-join + per-doc
# count, linear in the training corpus.
# ---------------------------------------------------------------------------

CONTAM_BENCH = 50


def contamination_check(documents: DataFrame) -> DataFrame:
    from .dedup import with_shingles

    sh = with_shingles(documents)
    bench = sh.filter(F.col("doc_id") < CONTAM_BENCH).select("shingle").distinct()
    return (
        sh.filter(F.col("doc_id") >= CONTAM_BENCH)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
    )


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return contamination_check(load_table(spark, sf_dir, "documents"))


def _contamination_sql() -> str:
    from .dedup import SQL_SHINGLES_CTE

    return f"""
WITH {SQL_SHINGLES_CTE},
bench AS (
  SELECT DISTINCT shingle FROM shingled WHERE doc_id < {CONTAM_BENCH}
)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
FROM shingled s
JOIN bench ON s.shingle = bench.shingle
WHERE s.doc_id >= {CONTAM_BENCH}
GROUP BY 1
"""


SQL_CONTAMINATION_CHECK = _contamination_sql()


# ---------------------------------------------------------------------------
# Intra-document repetition: fraction of word-3-gram occurrences that are
# repeats (the Gopher/C4-style "duplicated n-gram" quality rule — high
# dup_frac flags boilerplate/spam). Built as explode + ONE map-side-combined
# agg per doc (count vs distinct count) rather than a per-row higher-order
# function: HOFs are interpreted, and referencing the gram array twice
# (size + size∘distinct) would evaluate the transform twice under
# CollapseProject. Docs with <3 words have no grams and drop out, same as
# the dedup shingle ops. Linear, one shuffle keyed by doc_id — scales.
# ---------------------------------------------------------------------------

def repetition_ratio(documents: DataFrame) -> DataFrame:
    # gram construction shared with the dedup/shingle family (dedup.py is
    # the single source of truth for the 3-gram expression) — here WITHOUT
    # array_distinct, because duplicated grams are the signal being measured
    from .dedup import GRAM_ARRAY_EXPR

    grams = documents.select(
        "doc_id", ws_words_col(F.col("text")).alias("words")
    ).select(
        "doc_id",
        F.explode(F.expr(GRAM_ARRAY_EXPR)).alias("gram"),
    )
    n, d = F.count(F.lit(1)).cast("long"), F.countDistinct("gram").cast("long")
    return (
        grams.groupBy("doc_id")
        .agg(
            n.alias("n_grams"),
            d.alias("n_distinct"),
            round_half_up((n - d).cast("double") / n.cast("double"), 6).alias("dup_frac"),
        )
    )


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_ratio(load_table(spark, sf_dir, "documents", spread=True))


def _repetition_gram_cte() -> str:
    # shared builder, distinct=False: duplicated grams are the signal
    from .dedup import gram_cte_sql

    return gram_cte_sql("documents", distinct=False, alias="gram")


SQL_REPETITION_RATIO = f"""
WITH grams AS (
{_repetition_gram_cte()}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
       floor((CAST(count(*) - count(DISTINCT gram) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
FROM grams
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Domain mixture weights: per-source corpus share and the resampling weight
# that re-balances the mixture to uniform across sources (weight > 1 →
# upsample, < 1 → downsample) — the knob a pretraining data recipe turns
# per domain. One tiny source-keyed agg + a 1-row broadcast of the totals;
# shares/weights are exact rationals rounded half-up, so both engines agree
# bit-for-bit. Scales: the agg is map-side-combined, output is |sources|.
# ---------------------------------------------------------------------------

def domain_mixture_weights(documents: DataFrame) -> DataFrame:
    per = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("double").alias("total_docs"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars",
            round_half_up(
                F.col("n_docs").cast("double") / F.col("total_docs"), 6
            ).alias("doc_share"),
            round_half_up(
                F.col("total_docs") / (F.col("n_sources") * F.col("n_docs").cast("double")),
                6,
            ).alias("uniform_weight"),
        )
        .orderBy("source")
    )


def q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_mixture_weights(load_table(spark, sf_dir, "documents"))


SQL_DOMAIN_MIXTURE_WEIGHTS = """
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_docs) AS DOUBLE) AS total_docs,
         CAST(count(*) AS DOUBLE) AS n_sources
  FROM per
)
SELECT source, n_docs, n_chars,
       floor((CAST(n_docs AS DOUBLE) / total_docs) * 1000000.0 + 0.5) / 1000000.0
         AS doc_share,
       floor((total_docs / (n_sources * CAST(n_docs AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
         AS uniform_weight
FROM per, tot
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Sequence packing: GPT-style concat-and-chunk — documents are concatenated
# per source shard (ordered by doc_id) into one token stream, which is cut
# into fixed SEQ_LEN training sequences; each doc reports the byte-offset
# analog (token start offset) and the first/last pack it lands in. One
# window cumsum per shard (a single shuffle on source), integer arithmetic
# throughout. DIV truncation == floor here because offsets are non-negative
# (same precondition as the event-time bucketing ops). At 100 TB the shard
# key is the training-worker split, so each worker's stream packs
# independently — exactly how a loader materializes fixed-length batches.
# ---------------------------------------------------------------------------

SEQ_LEN = 512


def sequence_packing(documents: DataFrame) -> DataFrame:
    from .textops import ws_tokens_col

    toks = documents.select(
        "doc_id", "source", ws_tokens_col(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .withColumn("start_offset", (F.col("cum_tokens") - F.col("n_tokens")).cast("long"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "start_offset",
            F.expr(f"CAST(start_offset DIV {SEQ_LEN} AS BIGINT)").alias("start_pack"),
            F.expr(f"CAST((cum_tokens - 1) DIV {SEQ_LEN} AS BIGINT)").alias("end_pack"),
        )
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_packing(load_table(spark, sf_dir, "documents"))


SQL_SEQUENCE_PACKING = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM toks
)
SELECT doc_id, source, n_tokens,
       CAST(cum_tokens - n_tokens AS BIGINT) AS start_offset,
       CAST((cum_tokens - n_tokens) // {SEQ_LEN} AS BIGINT) AS start_pack,
       CAST((cum_tokens - 1) // {SEQ_LEN} AS BIGINT) AS end_pack
FROM cum
"""


# ---------------------------------------------------------------------------
# Quality deciles: curriculum binning of the corpus by quality score.
# NOT a global ntile window (that serializes the whole corpus into one
# partition): scores are rounded to 4dp, so the value histogram is ≤ 10k
# rows — aggregate it, assign each VALUE its decile from the cumulative
# count (ceil(10·cum/N) in exact integer arithmetic; docs tied on score
# share a decile), broadcast the tiny score→decile map back. Two corpus
# scans (histogram + assign), both narrow; the only window runs over the
# histogram, not the data. Decile 1 = lowest quality.
# ---------------------------------------------------------------------------

def quality_deciles(documents: DataFrame) -> DataFrame:
    from .textops import quality_score_col

    scored = documents.select(
        "doc_id", quality_score_col(F.col("text")).alias("quality_score")
    )
    hist = scored.groupBy("quality_score").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = hist.agg(F.sum("cnt").cast("long").alias("n"))
    wcum = Window.orderBy("quality_score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec_map = (
        hist.withColumn("cum", F.sum("cnt").over(wcum).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "quality_score",
            F.expr("CAST((10 * cum + n - 1) DIV n AS INT)").alias("decile"),
        )
    )
    return scored.join(F.broadcast(dec_map), "quality_score").select(
        "doc_id", "quality_score", "decile"
    )


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_deciles(load_table(spark, sf_dir, "documents", spread=True))


def _quality_score_sql() -> str:
    # delegate to textops' single source of truth — a locally re-spelled
    # formula could drift from text_quality/training_corpus without any
    # parity gate noticing (each query only checks its own oracle)
    from .textops import quality_score_sql

    return quality_score_sql("text")


SQL_QUALITY_DECILES = f"""
WITH scored AS (
  SELECT doc_id, {_quality_score_sql()} AS quality_score FROM documents
),
hist AS (
  SELECT quality_score, CAST(count(*) AS BIGINT) AS cnt FROM scored GROUP BY 1
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
dec_map AS (
  SELECT quality_score,
         CAST((10 * CAST(sum(cnt) OVER (ORDER BY quality_score
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
               + n - 1) // n AS INT) AS decile
  FROM hist, tot
)
SELECT s.doc_id, s.quality_score, d.decile
FROM scored s JOIN dec_map d USING (quality_score)
"""


QUERIES = {
    "pii_scrub": q_pii_scrub,
    "deterministic_sample": q_deterministic_sample,
    "shard_histogram": q_shard_histogram,
    "neardup_components": q_neardup_components,
    "vocab_topk": q_vocab_topk,
    "tfidf_topk_terms": q_tfidf_topk_terms,
    "dedup_survivors": q_dedup_survivors,
    "training_corpus": q_training_corpus,
    "contamination_check": q_contamination_check,
    "repetition_ratio": q_repetition_ratio,
    "domain_mixture_weights": q_domain_mixture_weights,
    "sequence_packing": q_sequence_packing,
    "quality_deciles": q_quality_deciles,
}

ORACLES = {
    "pii_scrub": SQL_PII_SCRUB,
    "deterministic_sample": SQL_DETERMINISTIC_SAMPLE,
    "shard_histogram": SQL_SHARD_HISTOGRAM,
    "neardup_components": SQL_NEARDUP_COMPONENTS,
    "vocab_topk": SQL_VOCAB_TOPK,
    "tfidf_topk_terms": SQL_TFIDF_TOPK_TERMS,
    "dedup_survivors": SQL_DEDUP_SURVIVORS,
    "training_corpus": SQL_TRAINING_CORPUS,
    "contamination_check": SQL_CONTAMINATION_CHECK,
    "repetition_ratio": SQL_REPETITION_RATIO,
    "domain_mixture_weights": SQL_DOMAIN_MIXTURE_WEIGHTS,
    "sequence_packing": SQL_SEQUENCE_PACKING,
    "quality_deciles": SQL_QUALITY_DECILES,
}


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate: per-document fraction of token occurrences not in
# the corpus top-K vocabulary (tokenizer-coverage signal for corpus mixing).
# Two jobs over documents: the vocab agg (tiny result, broadcast) and one
# token explode + broadcast hash join — no shuffle of the exploded tokens.
# ---------------------------------------------------------------------------

def oov_rate(documents: DataFrame) -> DataFrame:
    from ..functions.numeric import round_half_up

    # opt r14 (guide §1.2/§2.4): the old form tokenized the corpus TWICE —
    # once inside vocab_topk and once for the per-doc occurrence join.
    # Both branches derive from the same (doc_id, word, tf) relation, so
    # tokenize ONCE into a pinned tf (the tfidf_topk_terms discipline:
    # without the pin Catalyst re-expands the second consumer into its own
    # scan -> explode -> aggregate chain), then: vocab tf = sum(tf), vocab
    # df = count(*) per word; per-doc n_tokens = sum(tf), n_oov = sum(tf)
    # over words outside the vocab. Value-identical: doc-level token
    # counts are sums of per-(doc,word) counts, and the OOV predicate is
    # per WORD, constant across a (doc, word) group.
    words = _word_rows(documents)
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    tf = pin(tf, "oov_tf")
    vocab = _top_vocab(
        tf.groupBy("word").agg(
            F.sum("tf").cast("long").alias("tf"),
            F.count(F.lit(1)).cast("long").alias("df"),
        )
    ).select(F.col("word").alias("vword"))
    joined = tf.join(F.broadcast(vocab), tf.word == vocab.vword, "left")
    return joined.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("vword").isNull(), F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_oov"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_oov",
        round_half_up(
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 4
        ).alias("oov_rate"),
    )


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return oov_rate(load_table(spark, sf_dir, "documents"))


def _oov_rate_sql() -> str:
    from ..functions.numeric import round_half_up_sql

    ratio = round_half_up_sql(
        "CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4
    )
    return f"""
WITH {SQL_WORDS_CTE},
vocab AS ({SQL_VOCAB_TOPK})
SELECT doc_id, n_tokens, n_oov, {ratio} AS oov_rate
FROM (
  SELECT w.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(CASE WHEN v.word IS NULL THEN 1 END) AS BIGINT) AS n_oov
  FROM words w LEFT JOIN vocab v ON w.word = v.word
  GROUP BY w.doc_id
)
"""


SQL_OOV_RATE = _oov_rate_sql()

QUERIES["oov_rate"] = q_oov_rate
ORACLES["oov_rate"] = SQL_OOV_RATE


# ---------------------------------------------------------------------------
# Dataset cards: per-source corpus summary (the "data card" table every
# training-data release ships). One scan of documents computing all
# signals as columns, one groupBy(source) — ratios are rational (exact
# integer sums, one double division, portable rounding).
# ---------------------------------------------------------------------------

def dataset_cards(documents: DataFrame) -> DataFrame:
    from ..functions.numeric import round_half_up
    from .textops import predicted_lang_col, quality_score_col, ws_tokens_col

    t = F.col("text")
    sig = documents.select(
        "source",
        "n_chars",
        ws_tokens_col(t).alias("toks"),
        quality_score_col(t).alias("q"),
        (predicted_lang_col(t) == "en").cast("int").alias("is_en"),
    )
    g = sig.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.sum("is_en").cast("long").alias("n_english"),
        # quality_score is already rounded to 4dp -> exact in units of 1e-4;
        # sum as DECIMAL so the mean's numerator is order-independent
        F.sum(F.col("q").cast("decimal(18,4)")).alias("q_sum"),
    )
    return g.select(
        "source",
        "n_docs",
        "total_chars",
        "total_tokens",
        round_half_up(
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"), 2
        ).alias("avg_tokens"),
        round_half_up(
            F.col("n_english").cast("double") / F.col("n_docs").cast("double"), 4
        ).alias("english_frac"),
        round_half_up(
            # integer units of 1e-4 -> double BEFORE the divide (exact: the
            # scaled sum is a small integer), then one division
            (F.col("q_sum") * 10000).cast("long").cast("double")
            / (F.col("n_docs").cast("double") * 10000.0),
            4,
        ).alias("avg_quality"),
    )


def q_dataset_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dataset_cards(load_table(spark, sf_dir, "documents", spread=True))


def _dataset_cards_sql() -> str:
    from ..functions.numeric import round_half_up_sql
    from .textops import SQL_LANG_ID, SQL_TEXT_QUALITY, SQL_TOKEN_COUNTS

    return f"""
WITH lang AS ({SQL_LANG_ID}),
qual AS ({SQL_TEXT_QUALITY}),
toks AS ({SQL_TOKEN_COUNTS}),
g AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
         CAST(sum(toks.ws_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN lang.predicted_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_english,
         CAST(sum(CAST(qual.quality_score AS DECIMAL(18,4))) * 10000 AS BIGINT) AS q_sum_e4
  FROM documents d
  JOIN lang ON d.doc_id = lang.doc_id
  JOIN qual ON d.doc_id = qual.doc_id
  JOIN toks ON d.doc_id = toks.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, total_chars, total_tokens,
       {round_half_up_sql('CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)', 2)} AS avg_tokens,
       {round_half_up_sql('CAST(n_english AS DOUBLE) / CAST(n_docs AS DOUBLE)', 4)} AS english_frac,
       {round_half_up_sql('CAST(q_sum_e4 AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 10000.0)', 4)} AS avg_quality
FROM g
"""


SQL_DATASET_CARDS = _dataset_cards_sql()

QUERIES["dataset_cards"] = q_dataset_cards
ORACLES["dataset_cards"] = SQL_DATASET_CARDS


# ---------------------------------------------------------------------------
# Inverted index over the top-K vocabulary: term -> sorted posting list
# (the search-index build step). Postings are comma-joined sorted doc_ids
# (deterministic, hashable cross-engine). At real scale posting lists are
# sharded by term-hash ranges; the construction below (distinct word-doc
# pairs -> broadcast vocab join -> per-term sort) is unchanged by that.
# ---------------------------------------------------------------------------

def inverted_index(documents: DataFrame) -> DataFrame:
    vocab = vocab_topk(documents).select(F.col("word").alias("vword"))
    word_docs = _word_rows(documents).distinct()
    postings = F.sort_array(F.collect_list("doc_id"))
    return (
        word_docs.join(F.broadcast(vocab), word_docs.word == vocab.vword)
        .groupBy("word")
        .agg(
            F.size(postings).cast("long").alias("df"),
            F.array_join(postings, ",").alias("postings"),
        )
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inverted_index(load_table(spark, sf_dir, "documents"))


SQL_INVERTED_INDEX = f"""
WITH {SQL_WORDS_CTE},
vocab AS ({SQL_VOCAB_TOPK}),
word_docs AS (SELECT DISTINCT doc_id, word FROM words)
SELECT w.word,
       CAST(len(list_sort(list(w.doc_id))) AS BIGINT) AS df,
       array_to_string(list_sort(list(w.doc_id)), ',') AS postings
FROM word_docs w JOIN vocab v ON w.word = v.word
GROUP BY w.word
"""

QUERIES["inverted_index"] = q_inverted_index
ORACLES["inverted_index"] = SQL_INVERTED_INDEX


# ---------------------------------------------------------------------------
# BM25 scoring: the standard retrieval ranking (k1=1.2, b=0.75), top-3
# terms per document. The idf is the RATIONAL form N/df (same reasoning as
# tfidf_topk_terms: ln() differs in the last ulp across engines); all
# other factors are one fixed IEEE expression on both sides. Same plan
# shape as TF-IDF: two hash aggs + a broadcast of the tiny (N, avgdl)
# scalars — no extra scan.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_K = 3


def bm25_scored(documents: DataFrame) -> DataFrame:
    """The FULL per-(doc, term) BM25 weight relation — the posting list
    with doc-side impact weights. bm25_topk_terms ranks it per doc; the
    hybrid retrieval fusion (similarity.hybrid_retrieval_rrf) joins
    query terms against it. One tokenization total (tf pinned)."""
    # ONE tokenization total: tf (the per-(doc,term) relation, far smaller
    # than the token stream) is materialized with localCheckpoint, then dl
    # and df attach as WINDOW aggregates over it — no joins back, no
    # re-derivation branches. (Without the checkpoint, Spark recomputes
    # the explode once per consumer subtree: measured 4 scans of documents
    # in the un-checkpointed plan, with no AQE exchange reuse.)
    words = _word_rows(documents)
    tf = pin(
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        "bm25_tf",
    )
    w_doc = Window.partitionBy("doc_id")
    w_word = Window.partitionBy("word")
    enriched = tf.select(
        "doc_id",
        "word",
        "tf",
        F.sum("tf").over(w_doc).cast("long").alias("dl"),
        F.count(F.lit(1)).over(w_word).cast("long").alias("df"),
    )
    stats = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    score = (
        (F.col("n_docs") / F.col("df").cast("double"))
        * (tfd * (BM25_K1 + 1.0))
        / (tfd + BM25_K1 * (1.0 - BM25_B + BM25_B * dld / F.col("avgdl")))
    )
    return enriched.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.col("word").alias("term"),
        "tf",
        round_half_up(score, 4).alias("bm25"),
    )


def bm25_topk_terms(documents: DataFrame, k: int = BM25_K) -> DataFrame:
    scored = bm25_scored(documents)
    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "bm25", F.col("rnk").cast("int").alias("rnk"))
    )


def q_bm25_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk_terms(load_table(spark, sf_dir, "documents"))


# shared CTE chain ending in the full per-(doc,term) BM25 relation
# `bm25s` — used by the topk oracle below and the hybrid-RRF oracle
# (operators/similarity.py)
SQL_BM25_SCORED_CTES = f"""{SQL_WORDS_CTE},
tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
),
df AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
bm25s AS (
  SELECT tf.doc_id, tf.word AS term, tf.tf,
         floor(((s.n_docs / CAST(df.df AS DOUBLE))
                * (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0))
                / (CAST(tf.tf AS DOUBLE)
                   + {BM25_K1} * (1.0 - {BM25_B}
                                  + {BM25_B} * CAST(dl.dl AS DOUBLE) / s.avgdl)))
               * 10000.0 + 0.5) / 10000.0 AS bm25
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON tf.word = df.word
  CROSS JOIN stats s
)"""

SQL_BM25_TOPK_TERMS = f"""
WITH {SQL_BM25_SCORED_CTES}
SELECT doc_id, term, tf, bm25, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY bm25 DESC, term ASC) AS rnk
  FROM bm25s
) t
WHERE rnk <= {BM25_K}
"""

QUERIES["bm25_topk_terms"] = q_bm25_topk_terms
ORACLES["bm25_topk_terms"] = SQL_BM25_TOPK_TERMS


# ---------------------------------------------------------------------------
# Quality-weighted sampling: keep each doc with probability equal to its
# quality score (the mixture-shaping sampler — higher-quality documents
# survive proportionally more often), but DETERMINISTICALLY: the "random"
# draw is the md5 hash of doc_id scaled to [0,1), so every engine and
# every run selects the same rows. Zero shuffle.
# ---------------------------------------------------------------------------

def weighted_sample(documents: DataFrame) -> DataFrame:
    from .textops import quality_score_col

    u = _hash_int(F.col("doc_id")).cast("double") / F.lit(4294967296.0)
    q = quality_score_col(F.col("text"))
    return (
        documents.select("doc_id", q.alias("quality_score"), u.alias("draw"))
        .filter(F.col("draw") < F.col("quality_score"))
        .select("doc_id", "quality_score")
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_sample(load_table(spark, sf_dir, "documents"))


def _weighted_sample_sql() -> str:
    from .textops import quality_score_sql

    hash_unit = f"CAST({_HASH_INT_SQL.format(col='doc_id')} AS DOUBLE) / 4294967296.0"
    return f"""
SELECT doc_id, quality_score
FROM (
  SELECT doc_id,
         {quality_score_sql('text')} AS quality_score,
         {hash_unit} AS draw
  FROM documents
)
WHERE draw < quality_score
"""


SQL_WEIGHTED_SAMPLE = _weighted_sample_sql()

QUERIES["weighted_sample"] = q_weighted_sample
ORACLES["weighted_sample"] = SQL_WEIGHTED_SAMPLE


# ---------------------------------------------------------------------------
# Term collocation lift: for vocabulary word pairs, how much more often
# they co-occur in a document than independence predicts —
# lift = N*c_xy / (c_x*c_y), the log-free PMI analogue (exp(PMI)), kept
# rational so it hash-matches cross-engine. The pair join runs on the
# vocab-filtered distinct word-doc relation: per-doc work is bounded by
# vocabulary size squared, NOT document length, and the vocab is a
# broadcast constant — scale-safe collocation mining.
# ---------------------------------------------------------------------------

LIFT_TOP = 20


def term_lift_pairs(documents: DataFrame, k: int = LIFT_TOP) -> DataFrame:
    from ..functions.numeric import round_half_up

    vocab = vocab_topk(documents).select(F.col("word").alias("vword"))
    # materialize the vocab-filtered word-doc relation ONCE: it feeds both
    # sides of the self-join, with each word's document frequency attached
    # as a window aggregate before the join (no dfreq join-back branch).
    # Un-checkpointed, Spark recomputed the tokenization once per subtree —
    # measured 9 scans of documents with zero AQE exchange reuse.
    wd = pin(
        _word_rows(documents)
        .join(F.broadcast(vocab), F.col("word") == F.col("vword"))
        .select("doc_id", "word")
        .distinct()
        .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("word"))),
        "term_lift_wd",
    )
    a, b = wd.alias("a"), wd.alias("b")
    cxy = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.word") < F.col("b.word")))
        .groupBy(F.col("a.word").alias("wa"), F.col("b.word").alias("wb"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("c_xy"),
            F.max(F.col("a.c")).cast("long").alias("ca"),
            F.max(F.col("b.c")).cast("long").alias("cb"),
        )
    )
    n_docs = documents.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    lift = (F.col("n_docs") * F.col("c_xy").cast("double")) / (
        F.col("ca").cast("double") * F.col("cb").cast("double")
    )
    return (
        cxy.crossJoin(F.broadcast(n_docs))
        .select("wa", "wb", "c_xy", round_half_up(lift, 6).alias("lift"))
        .orderBy(F.desc("lift"), F.asc("wa"), F.asc("wb"))
        .limit(k)
    )


def q_term_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_lift_pairs(load_table(spark, sf_dir, "documents"))


SQL_TERM_LIFT_PAIRS = f"""
WITH {SQL_WORDS_CTE},
vocab AS ({SQL_VOCAB_TOPK}),
wd AS (
  SELECT DISTINCT w.doc_id, w.word
  FROM words w JOIN vocab v ON w.word = v.word
),
cxy AS (
  SELECT a.word AS wa, b.word AS wb, CAST(count(*) AS BIGINT) AS c_xy
  FROM wd a JOIN wd b ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY 1, 2
),
dfreq AS (
  SELECT word, CAST(count(*) AS BIGINT) AS c FROM wd GROUP BY 1
)
SELECT wa, wb, c_xy,
       floor(((SELECT CAST(count(*) AS DOUBLE) FROM documents) * CAST(c_xy AS DOUBLE)
              / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM cxy
JOIN dfreq ca ON cxy.wa = ca.word
JOIN dfreq cb ON cxy.wb = cb.word
ORDER BY lift DESC, wa ASC, wb ASC
LIMIT {LIFT_TOP}
"""

QUERIES["term_lift_pairs"] = q_term_lift_pairs
ORACLES["term_lift_pairs"] = SQL_TERM_LIFT_PAIRS


# ---------------------------------------------------------------------------
# Dedup rate by source: the corpus-governance scoreboard — per source, how
# many documents are exact-content duplicates of ANOTHER document in the
# whole corpus (cross-source dups count against both sources). One
# fingerprint agg + an equi-join of the duplicated-fingerprint set back
# onto the tagged rows. The dup set is NOT forced to broadcast: its size
# scales with the corpus-wide duplicate count — exactly what this metric
# exists to detect — so the join strategy is left to AQE (broadcast when
# small, shuffle join when the corpus is dirty).
# ---------------------------------------------------------------------------

def dedup_rate_by_source(documents: DataFrame) -> DataFrame:
    from ..functions.numeric import round_half_up
    from .textops import fingerprints

    fp = fingerprints(documents).select("doc_id", "fingerprint")
    tagged = documents.select("doc_id", "source").join(fp, "doc_id")
    dup_fps = (
        tagged.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("fingerprint")
    )
    marked = tagged.join(
        dup_fps.withColumn("is_dup", F.lit(1)), "fingerprint", "left"
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_duplicated"),
    ).select(
        "source",
        "n_docs",
        "n_duplicated",
        round_half_up(
            F.col("n_duplicated").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("dup_rate"),
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_rate_by_source(load_table(spark, sf_dir, "documents", spread=True))


def _dedup_rate_sql() -> str:
    from .textops import SQL_FINGERPRINTS

    return f"""
WITH fp AS ({SQL_FINGERPRINTS}),
tagged AS (
  SELECT d.doc_id, d.source, fp.fingerprint
  FROM documents d JOIN fp ON d.doc_id = fp.doc_id
),
dup_fps AS (
  SELECT fingerprint FROM tagged GROUP BY 1 HAVING count(*) > 1
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN df.fingerprint IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duplicated,
       floor((CAST(sum(CASE WHEN df.fingerprint IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
FROM tagged t LEFT JOIN dup_fps df ON t.fingerprint = df.fingerprint
GROUP BY t.source
"""


SQL_DEDUP_RATE_BY_SOURCE = _dedup_rate_sql()

QUERIES["dedup_rate_by_source"] = q_dedup_rate_by_source
ORACLES["dedup_rate_by_source"] = SQL_DEDUP_RATE_BY_SOURCE


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (r3): fuse two retrieval signals — lexical match
# (query-term frequency) and a quality prior — into one candidate ranking,
# RRF(d) = Σ 1/(60 + rank_i(d)). The standard data-selection / hybrid-
# search combiner (fuses top-k LISTS, never full-corpus ranks).
#
# Scale shape: each retriever is scan -> TakeOrderedAndProject(FUSE_POOL)
# — no global sort; ranks are then row_numbers INSIDE the fixed-size pool
# (a single bounded partition of 100 rows, constant at any corpus size).
# The fusion itself is a full-outer join of two 100-row lists. A missing
# rank contributes 0 — the convention for list-based RRF.
# ---------------------------------------------------------------------------

RRF_K = 60
FUSE_POOL = 100
FUSE_TOPK = 20
QUERY_TERMS = ("join", "hash", "vector")
_QT_RE = r"\b(join|hash|vector)\b"


def rank_fusion(documents: DataFrame) -> DataFrame:
    def pool(score_col, score_name: str, rank_name: str) -> DataFrame:
        top = (
            documents.select("doc_id", score_col.alias(score_name))
            .orderBy(F.desc(score_name), F.asc("doc_id"))
            .limit(FUSE_POOL)
        )
        w = Window.orderBy(F.desc(score_name), F.asc("doc_id"))
        return top.select(
            "doc_id", F.row_number().over(w).cast("int").alias(rank_name)
        )

    from .textops import quality_score_col

    qtf = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_QT_RE), F.lit(0)))
    a = pool(qtf.cast("int"), "qtf", "rank_lex")
    b = pool(quality_score_col(F.col("text")), "q", "rank_quality")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_lex").cast("double")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("rank_quality").cast("double")),
        F.lit(0.0),
    )
    return (
        a.join(b, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_lex",
            "rank_quality",
            round_half_up(rrf, 9).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(FUSE_TOPK)
    )


def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rank_fusion(load_table(spark, sf_dir, "documents"))


SQL_RANK_FUSION = f"""
WITH lex AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '{_QT_RE}')) AS INT) AS qtf
  FROM documents
  ORDER BY qtf DESC, doc_id ASC LIMIT {FUSE_POOL}
),
lexr AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY qtf DESC, doc_id ASC) AS INT) AS rank_lex
  FROM lex
),
qual AS (
  SELECT doc_id, {{QSCORE}} AS q
  FROM documents
  ORDER BY q DESC, doc_id ASC LIMIT {FUSE_POOL}
),
qualr AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY q DESC, doc_id ASC) AS INT) AS rank_quality
  FROM qual
),
fused AS (
  SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id, l.rank_lex, r.rank_quality,
         COALESCE(1.0 / ({RRF_K}.0 + CAST(l.rank_lex AS DOUBLE)), 0.0)
         + COALESCE(1.0 / ({RRF_K}.0 + CAST(r.rank_quality AS DOUBLE)), 0.0) AS rrf
  FROM lexr l FULL OUTER JOIN qualr r ON l.doc_id = r.doc_id
)
SELECT doc_id, rank_lex, rank_quality,
       floor(rrf * 1000000000.0 + 0.5) / 1000000000.0 AS rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {FUSE_TOPK}
"""

# splice the single-source quality-score SQL twin in (same helper every
# quality consumer uses, so the formula can't drift)
from .textops import quality_score_sql as _qss  # noqa: E402

SQL_RANK_FUSION = SQL_RANK_FUSION.replace("{QSCORE}", _qss("text"))

QUERIES["rank_fusion"] = q_rank_fusion
ORACLES["rank_fusion"] = SQL_RANK_FUSION


# ---------------------------------------------------------------------------
# Source vocabulary overlap (r3, governance): Jaccard similarity between
# the distinct-word sets of every source pair — the "which feeds duplicate
# each other" matrix that drives source-level dedup decisions before
# document-level near-dedup runs.
#
# Scale: the pair join is on WORD over per-source DISTINCT vocabularies
# (vocab-bounded — corpus size falls out after the distinct), the same
# bounding argument as term_lift_pairs; per-source sizes broadcast back.
# Intersections materialize only for pairs sharing >= 1 word (inner join
# semantics — disjoint pairs carry no row, documented).
# ---------------------------------------------------------------------------


def source_overlap(documents: DataFrame) -> DataFrame:
    sw = documents.select(
        "source",
        F.explode(ws_words_col(F.col("text"))).alias("word"),
    ).distinct()
    per = sw.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_words"))
    inter = (
        sw.select(F.col("source").alias("source_a"), "word")
        .join(sw.select(F.col("source").alias("source_b"), "word"), "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        inter.join(F.broadcast(per.withColumnRenamed("source", "source_a")
                               .withColumnRenamed("n_words", "n_a")), "source_a")
        .join(F.broadcast(per.withColumnRenamed("source", "source_b")
                          .withColumnRenamed("n_words", "n_b")), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            round_half_up(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_overlap(load_table(spark, sf_dir, "documents"))


SQL_SOURCE_OVERLAP = """
WITH sw AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_words FROM sw GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, pa.n_words AS n_a, pb.n_words AS n_b, i.n_common,
       floor((CAST(i.n_common AS DOUBLE)
              / CAST(pa.n_words + pb.n_words - i.n_common AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter i
JOIN per pa ON i.source_a = pa.source
JOIN per pb ON i.source_b = pb.source
"""

QUERIES["source_overlap"] = q_source_overlap
ORACLES["source_overlap"] = SQL_SOURCE_OVERLAP


# ---------------------------------------------------------------------------
# Global deterministic training shuffle (r11): the canonical LAST step of
# a training-data pipeline — decorrelate training order, reproducibly,
# WITHOUT a global sort. Every doc gets a seeded md5 rank; its shard is
# the rank's top 32 bits mod a CORPUS-DERIVED shard count (docs/512,
# floor 16 — the derive-from-corpus doctrine: fixed shards would make
# per-shard windows grow linearly with the corpus), and its position is
# a per-shard ROW_NUMBER ordered by rank. One hash exchange on shard +
# per-shard sorts — terasort-shaped, embarrassingly parallel across
# shards, no SinglePartition window anywhere. Changing the seed permutes
# the whole corpus; re-running with the same seed is bit-identical —
# the property a resumable 100 TB pre-training run needs. At scale the
# same expression with docs/512 ~ millions of shards keeps each shard's
# sort in-memory; the emitted (shard, pos) pair IS the dataloader's
# read order.
# ---------------------------------------------------------------------------

SHUFFLE_SEED = "graft-shuffle-r11"
SHUFFLE_DOCS_PER_SHARD = 512
SHUFFLE_MIN_SHARDS = 16


def training_shuffle(documents: DataFrame, n_shards: int, seed: str = SHUFFLE_SEED) -> DataFrame:
    from pyspark.sql import Window

    rank = F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(rank, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("long")
    pos = F.row_number().over(
        Window.partitionBy(shard).orderBy(rank, F.col("doc_id"))
    )
    return documents.select(
        "doc_id",
        shard.alias("shard"),
        pos.cast("long").alias("pos"),
    )


def q_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # corpus-derived shard count: one bounded scalar driver round-trip
    # (same class as the kmeans-K / LSH-parameter derivations)
    n_shards = max(SHUFFLE_MIN_SHARDS, docs.count() // SHUFFLE_DOCS_PER_SHARD)
    return training_shuffle(docs, n_shards)


SQL_TRAINING_SHUFFLE = f"""
WITH n AS (
  SELECT GREATEST({SHUFFLE_MIN_SHARDS},
                  COUNT(*) // {SHUFFLE_DOCS_PER_SHARD}) AS n_shards
  FROM documents
), h AS (
  SELECT doc_id,
         md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS rank_hex
  FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(rank_hex, 1, 8))::UBIGINT
            % (SELECT n_shards FROM n) AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY ('0x' || substr(rank_hex, 1, 8))::UBIGINT
                         % (SELECT n_shards FROM n)
            ORDER BY rank_hex, doc_id) AS BIGINT) AS pos
FROM h
"""

QUERIES["training_shuffle"] = q_training_shuffle
ORACLES["training_shuffle"] = SQL_TRAINING_SHUFFLE
