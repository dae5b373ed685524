"""Warehouse maintenance & analytics shapes beyond the reference's surface:
MERGE upsert (SCD type 1), SCD type 2 validity intervals, cohort retention,
OHLC bars, exact stratified sampling, and document chunking.

The reference's warehouse layer only ever rebuilds tables wholesale
(LoadDataWarehouse.ChatterjeeP.R:90-133 drops and re-creates the fact
tables); a production warehouse ingests *daily batches* into existing
state. These operators cover that incremental surface with pure DataFrame
plans (no Delta/iceberg dependency — the MERGE is expressed as a full-outer
join, which is exactly the shuffle a table-format MERGE executes underneath).

Scale notes (100 TB): merge_upsert shuffles both sides on the join key once
— the minimum any MERGE does; AQE handles skewed keys. scd2_intervals and
ohlc_bars window-partition by entity/hour (bounded state per partition, no
global sort). cohort_retention is two hash aggregations plus an equi-join
on user_id. stratified_sample's per-group window is bounded by group size;
doc_chunks is a zero-shuffle explode whose output is ~n_chars/stride rows
per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import SCHEMAS, load_table
from ..functions.numeric import money_sum, money_sum_sql, round_half_up
from .distrank import ntile_from_rank, with_global_rank
from .pin import pin

# ---------------------------------------------------------------------------
# MERGE upsert (SCD type 1): apply a daily batch of per-customer spend to
# the customer dimension — matched keys update acctbal, unmatched batch
# keys insert new accounts, untouched rows pass through. The batch is
# derived deterministically from orders (1995 spend) plus a key-shifted
# copy so the INSERT branch is exercised; a real ingest would read the
# batch from a source table instead.
# ---------------------------------------------------------------------------

def merge_upsert(customer: DataFrame, orders: DataFrame) -> DataFrame:
    # range predicate (not year(..)=1995) so it reaches the parquet scan as
    # PushedFilters min/max pruning; one agg + explode of both key variants
    # instead of UNION ALL of two branches (halves the batch-source scan).
    # The synthetic INSERT keys are the NEGATED custkeys: TPC-H keys are
    # strictly positive at every scale factor, so negation can never
    # collide with a real customer (a fixed additive offset would, once
    # the corpus outgrows it).
    spend = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-01-01"))
        )
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(money_sum("o_totalprice", "spend"))
    )
    batch = spend.select(
        F.explode(F.array(F.col("key"), -F.col("key"))).alias("key"),
        "spend",
    )
    tgt = customer.select("c_custkey", "c_name", "c_acctbal")
    merged = tgt.join(batch, tgt.c_custkey == batch.key, "full_outer")
    matched = F.col("c_custkey").isNotNull() & F.col("key").isNotNull()
    return merged.select(
        F.coalesce("c_custkey", "key").alias("c_custkey"),
        F.coalesce(
            "c_name", F.concat(F.lit("acct-"), F.col("key").cast("string"))
        ).alias("c_name"),
        F.when(matched, F.col("c_acctbal") + F.col("spend"))
        .when(F.col("key").isNull(), F.col("c_acctbal"))
        .otherwise(F.col("spend"))
        .alias("c_acctbal"),
        F.when(matched, F.lit("update"))
        .when(F.col("key").isNull(), F.lit("keep"))
        .otherwise(F.lit("insert"))
        .alias("merge_action"),
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_upsert(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


SQL_MERGE_UPSERT = f"""
WITH spend AS (
  SELECT o_custkey AS key, {money_sum_sql('o_totalprice', 'spend')}
  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
), batch AS (
  SELECT key, spend FROM spend
  UNION ALL
  SELECT -key, spend FROM spend
)
SELECT COALESCE(c.c_custkey, b.key) AS c_custkey,
       COALESCE(c.c_name, 'acct-' || CAST(b.key AS VARCHAR)) AS c_name,
       CASE WHEN c.c_custkey IS NOT NULL AND b.key IS NOT NULL
              THEN c.c_acctbal + b.spend
            WHEN b.key IS NULL THEN c.c_acctbal
            ELSE b.spend END AS c_acctbal,
       CASE WHEN c.c_custkey IS NOT NULL AND b.key IS NOT NULL THEN 'update'
            WHEN b.key IS NULL THEN 'keep'
            ELSE 'insert' END AS merge_action
FROM customer c FULL OUTER JOIN batch b ON c.c_custkey = b.key
"""


# ---------------------------------------------------------------------------
# SCD type 2: turn a change log (purchase events = state changes) into
# validity intervals — one row per state with [valid_from, valid_to) and a
# current-row flag. lead() over (user, ts) is the whole trick; the window
# state is bounded per user.
# ---------------------------------------------------------------------------

def scd2_intervals(events: DataFrame) -> DataFrame:
    pe = events.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return pe.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("value").alias("state_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_intervals(load_table(spark, sf_dir, "events"))


SQL_SCD2_INTERVALS = """
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       value AS state_value,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen week, distinct actives per
# (cohort_week, weeks since). Two hash aggs + one equi-join on user_id —
# both sides shrink before the join (min-per-user / distinct user-week),
# so the join input is |users| + |user-weeks|, not |events|.
# ---------------------------------------------------------------------------

def cohort_retention(events: DataFrame) -> DataFrame:
    # cohort_week stays TIMESTAMP (midnight Monday): Spark DateType arrives
    # in pandas as object-dtype date, DuckDB DATE as datetime64 — the
    # value-hash compare would see different types for equal values.
    cohorts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    actives = (
        events.select(
            "user_id", F.date_trunc("week", F.col("ts")).alias("week")
        )
        .distinct()
    )
    return (
        actives.join(cohorts, "user_id")
        .select(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_retention(load_table(spark, sf_dir, "events"))


SQL_COHORT_RETENTION = """
WITH cohorts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
), actives AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INTEGER) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM actives a JOIN cohorts c USING (user_id)
GROUP BY c.cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# OHLC bars: hourly open/high/low/close over event values. open/close are
# first/last by (ts, event_id) — row_number windows partitioned by the
# bar hour, then ONE hash agg that reuses the window's hour partitioning
# (no second shuffle; conditional max picks the rn=1 rows). Volume sums in
# DECIMAL (order-independent bits, functions/numeric.py).
# ---------------------------------------------------------------------------

def ohlc_bars(events: DataFrame) -> DataFrame:
    e = events.select(
        F.date_trunc("hour", "ts").alias("bar_hour"), "ts", "event_id", "value"
    )
    w_a = Window.partitionBy("bar_hour").orderBy(F.asc("ts"), F.asc("event_id"))
    w_d = Window.partitionBy("bar_hour").orderBy(F.desc("ts"), F.desc("event_id"))
    flagged = e.select(
        "bar_hour",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return flagged.groupBy("bar_hour").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        (
            F.sum(
                (F.col("value").cast("decimal(18,6)") * F.lit(1_000_000)).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("volume"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ohlc_bars(load_table(spark, sf_dir, "events"))


SQL_OHLC_BARS = """
WITH flagged AS (
  SELECT date_trunc('hour', ts) AS bar_hour, value,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT bar_hour,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       (CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) AS volume,
       CAST(count(*) AS BIGINT) AS n_events
FROM flagged
GROUP BY bar_hour
"""


# ---------------------------------------------------------------------------
# Exact stratified sample: a fixed 10% quota per source (ceil), chosen by
# md5 order — deterministic across engines and runs, unlike Bernoulli
# sampling which only hits the fraction in expectation. Window state is
# bounded per source group.
# ---------------------------------------------------------------------------

STRATUM_PCT = 10  # keep ceil(n/10) docs per source


def stratified_sample(documents: DataFrame) -> DataFrame:
    order_key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(order_key, "doc_id")
    wc = Window.partitionBy("source")
    return (
        documents.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("long").alias("sample_rank"),
            F.count(F.lit(1)).over(wc).alias("group_n"),
        )
        .filter(
            F.col("sample_rank")
            <= (F.col("group_n") + STRATUM_PCT - 1) / STRATUM_PCT
        )
        .select("doc_id", "source", "sample_rank")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_sample(load_table(spark, sf_dir, "documents"))


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, source, sample_rank
FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
              AS BIGINT) AS sample_rank,
         count(*) OVER (PARTITION BY source) AS group_n
  FROM documents
)
WHERE sample_rank <= (group_n + {STRATUM_PCT - 1}) / {STRATUM_PCT}
"""


# ---------------------------------------------------------------------------
# Document chunking: fixed-width character chunks with overlap (the RAG /
# embedding-ingest shape). Declarative explode(sequence(...)) — the chunk
# count comes from n_chars arithmetic, so there's no Python in the path and
# no shuffle at all; output size is ~n_chars/stride rows per doc.
# ---------------------------------------------------------------------------

CHUNK_SIZE = 200
CHUNK_STRIDE = 150  # 50-char overlap


def doc_chunks(documents: DataFrame) -> DataFrame:
    n = F.col("n_chars")
    n_off = F.when(n <= CHUNK_SIZE, F.lit(1)).otherwise(
        1 + ((n - CHUNK_SIZE + CHUNK_STRIDE - 1) / CHUNK_STRIDE).cast("long")
    )
    return documents.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), (n_off - 1).cast("int"))).alias("chunk_idx"),
        "text",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.substring(
            F.col("text"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
        ).alias("chunk_text"),
    ).withColumn("chunk_len", F.length("chunk_text").cast("long"))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_chunks(load_table(spark, sf_dir, "documents"))


SQL_DOC_CHUNKS = f"""
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       substr(text, CAST(i AS INTEGER) * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}) AS chunk_text,
       CAST(length(substr(text, CAST(i AS INTEGER) * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}))
            AS BIGINT) AS chunk_len
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, CASE WHEN n_chars <= {CHUNK_SIZE} THEN 0
                                        ELSE (n_chars - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1)
                                             // {CHUNK_STRIDE} END)) AS i
  FROM documents
)
"""


QUERIES = {
    "merge_upsert": q_merge_upsert,
    "scd2_intervals": q_scd2_intervals,
    "cohort_retention": q_cohort_retention,
    "ohlc_bars": q_ohlc_bars,
    "stratified_sample": q_stratified_sample,
    "doc_chunks": q_doc_chunks,
}

ORACLES = {
    "merge_upsert": SQL_MERGE_UPSERT,
    "scd2_intervals": SQL_SCD2_INTERVALS,
    "cohort_retention": SQL_COHORT_RETENTION,
    "ohlc_bars": SQL_OHLC_BARS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "doc_chunks": SQL_DOC_CHUNKS,
}


# ---------------------------------------------------------------------------
# Snapshot diff: added / removed / changed rows between two table versions
# (the audit step after any incremental load; for the versioned CoW table
# in streaming/partitioned_upsert.py, partitioned_state_changes is the
# manifest-pruned twin). One full-outer join on the key comparing row
# hashes — |A| + |B| shuffle, the minimum any diff does. Versions are
# derived deterministically from orders: A = pre-1997 orders, B = pre-1998
# with a deterministic subset "amended" (totalprice + 1).
# ---------------------------------------------------------------------------

def table_diff(snap_a: DataFrame, snap_b: DataFrame, key: str) -> DataFrame:
    """Generic diff: snapshots with identical schemas, keyed by `key`.
    Row identity = md5 of the concatenated non-key columns.

    NULL-key safe: the join is null-safe (<=>) and side presence is
    tracked with explicit flags — key-nullness cannot stand in for
    absence, or a removed NULL-key row would be labeled 'added' and a
    NULL-key row present in both snapshots would never join to itself.
    (The registered oracle runs over non-null o_orderkeys, where the
    plain IS NULL form is equivalent.)"""
    cols = [c for c in snap_a.columns if c != key]
    def hashed(df, side):
        return df.select(
            F.col(key).alias(f"{side}_key"),
            F.lit(True).alias(f"in_{side}"),
            F.md5(F.concat_ws("\u0001", *[F.col(c).cast("string") for c in cols])).alias(
                f"{side}_hash"
            ),
        )
    a, b = hashed(snap_a, "a"), hashed(snap_b, "b")
    j = a.join(b, a.a_key.eqNullSafe(b.b_key), "full_outer")
    in_a = F.coalesce("in_a", F.lit(False))
    in_b = F.coalesce("in_b", F.lit(False))
    return (
        j.select(
            F.when(in_a, F.col("a_key")).otherwise(F.col("b_key")).alias(key),
            F.when(~in_a, F.lit("added"))
            .when(~in_b, F.lit("removed"))
            .when(F.col("a_hash") != F.col("b_hash"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("diff_status"),
        )
        .filter(F.col("diff_status") != "unchanged")
    )


AMEND_MOD = 7  # deterministic subset of keys "amended" in snapshot B


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    snap_a = orders.filter(F.year("o_orderdate") < 1997).select(*cols)
    snap_b = orders.filter(F.year("o_orderdate") < 1998).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % AMEND_MOD == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return table_diff(snap_a, snap_b, "o_orderkey")


SQL_TABLE_DIFF = f"""
WITH a AS (
  SELECT o_orderkey AS k,
         md5(concat_ws(chr(1), CAST(o_custkey AS VARCHAR), o_orderstatus,
                       CAST(o_totalprice AS VARCHAR))) AS h
  FROM orders WHERE year(o_orderdate) < 1997
), b AS (
  SELECT o_orderkey AS k,
         md5(concat_ws(chr(1), CAST(o_custkey AS VARCHAR), o_orderstatus,
                       CAST(CASE WHEN o_orderkey % {AMEND_MOD} = 0
                                 THEN o_totalprice + 1.0
                                 ELSE o_totalprice END AS VARCHAR))) AS h
  FROM orders WHERE year(o_orderdate) < 1998
)
SELECT COALESCE(a.k, b.k) AS o_orderkey,
       CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'removed'
            WHEN a.h <> b.h THEN 'changed'
            ELSE 'unchanged' END AS diff_status
FROM a FULL OUTER JOIN b ON a.k = b.k
WHERE (CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'removed'
            WHEN a.h <> b.h THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
"""

QUERIES["table_diff"] = q_table_diff
ORACLES["table_diff"] = SQL_TABLE_DIFF


# ---------------------------------------------------------------------------
# RFM segmentation: the classic CRM rollup — per customer, Recency (days
# since last order, relative to the corpus's max date so the result is a
# pure function of the data), Frequency (order count), Monetary (DECIMAL-
# exact spend), each scored into quintiles with a key tie-break
# (deterministic across engines).
#
# Exact ntile needs a global total order, but NOT a single-partition sort
# (the r2 form's scale boundary): r3 uses the canonical distributed
# order-statistics construction instead — repartitionByRange on the sort
# key (the same range exchange a distributed ORDER BY performs),
# row_number within each range partition, then global rank = broadcast
# cumulative partition offset + local row number, and the quintile from
# the rank in closed form (first n%5 buckets get ceil(n/5) rows — ntile's
# exact bucket-size rule). Every stage is distributed: the only
# single-partition work is the cumulative sum over the P per-partition
# counts (P rows, one per shuffle partition). Bit-identical to the
# oracle's ntile() — verified by the driver hash compare.
# ---------------------------------------------------------------------------


# shared distributed-rank construction (moved to distrank.py in r4 so the
# quantile/percentile comparators in sketches.py / tpch.py reuse it);
# local aliases keep existing call sites and tests stable
_with_global_rank = with_global_rank
_ntile_from_rank = ntile_from_rank


def rfm_segments(orders: DataFrame) -> DataFrame:
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        money_sum("o_totalprice", "monetary"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    base = per_cust.crossJoin(F.broadcast(anchor)).select(
        "custkey",
        F.datediff("anchor", "last_order").cast("int").alias("recency_days"),
        "frequency",
        "monetary",
    )
    # one independent narrow rank frame per metric (NOT chained — chaining
    # nests each stage's two-branch plan inside the next and the static
    # plan grows exponentially). NOTE (r4, measured): AQE does NOT emit
    # ReusedExchange across the rank/count branches here (0 in the final
    # adaptive plan), so each metric's frame re-derives the per-customer
    # rollup twice — acceptable because the re-read relation is the
    # |customers|-row rollup, never the orders fact
    rk_r = _with_global_rank(
        base.select("custkey", "recency_days"),
        [F.asc("recency_days"), F.asc("custkey")],
        "_rk_r",
    ).select("custkey", "_rk_r")
    rk_f = _with_global_rank(
        base.select("custkey", "frequency"),
        [F.desc("frequency"), F.asc("custkey")],
        "_rk_f",
    ).select("custkey", "_rk_f")
    rk_m = _with_global_rank(
        base.select("custkey", "monetary"),
        [F.desc("monetary"), F.asc("custkey")],
        "_rk_m",
    ).select("custkey", "_rk_m")
    ranked = base.join(rk_r, "custkey").join(rk_f, "custkey").join(rk_m, "custkey")
    n_total = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    n = F.col("_n")
    return ranked.crossJoin(F.broadcast(n_total)).select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        _ntile_from_rank(F.col("_rk_r"), n, 5).alias("r_score"),
        _ntile_from_rank(F.col("_rk_f"), n, 5).alias("f_score"),
        _ntile_from_rank(F.col("_rk_m"), n, 5).alias("m_score"),
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rfm_segments(load_table(spark, sf_dir, "orders"))


SQL_RFM_SEGMENTS = f"""
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         {money_sum_sql('o_totalprice', 'monetary')}
  FROM orders GROUP BY 1
),
anchor AS (SELECT max(o_orderdate) AS anchor FROM orders),
base AS (
  SELECT custkey,
         CAST(date_diff('day', last_order, anchor) AS INT) AS recency_days,
         frequency, monetary
  FROM per_cust, anchor
)
SELECT custkey, recency_days, frequency, monetary,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS INT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey ASC) AS INT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, custkey ASC) AS INT) AS m_score
FROM base
"""

QUERIES["rfm_segments"] = q_rfm_segments
ORACLES["rfm_segments"] = SQL_RFM_SEGMENTS


# ---------------------------------------------------------------------------
# Market-basket affinity: part pairs bought together more often than
# independence predicts — lift = N_orders * c_xy / (c_x * c_y), the
# retail twin of corpusops.term_lift_pairs. The pair self-join is keyed
# by order and bounded by lines-per-order (<= 7 in TPC-H at any scale
# factor), so pair generation is linear in lineitems, never quadratic in
# parts; per-part order frequency rides along as a pre-join window column.
# ---------------------------------------------------------------------------

BASKET_TOP = 20
BASKET_MIN_COOC = 2  # noise floor: a pair seen once is not a signal


def basket_affinity(lineitem: DataFrame, orders: DataFrame,
                    k: int = BASKET_TOP) -> DataFrame:
    """EAGER at build time (see registry.py docstring): the per-(order,
    part) relation is localCheckpoint'd so the pair self-join reads it
    once instead of re-deriving the distinct+window on both sides —
    measured faster, but building this DataFrame runs Spark jobs and pins
    blocks in executor-local (non-replicated) storage."""
    from ..functions.numeric import round_half_up

    op = pin(
        lineitem.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
        )
        .distinct()
        .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("part"))),
        "basket_op",
    )
    a, b = op.alias("a"), op.alias("b")
    cxy = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cooc"),
            F.max(F.col("a.c")).cast("long").alias("ca"),
            F.max(F.col("b.c")).cast("long").alias("cb"),
        )
        .filter(F.col("n_cooc") >= BASKET_MIN_COOC)
    )
    n_orders = orders.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    lift = (F.col("n_orders") * F.col("n_cooc").cast("double")) / (
        F.col("ca").cast("double") * F.col("cb").cast("double")
    )
    return (
        cxy.crossJoin(F.broadcast(n_orders))
        .select("part_a", "part_b", "n_cooc", round_half_up(lift, 6).alias("lift"))
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(k)
    )


def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return basket_affinity(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


SQL_BASKET_AFFINITY = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
counted AS (
  SELECT okey, part, count(*) OVER (PARTITION BY part) AS c FROM op
),
cxy AS (
  SELECT a.part AS part_a, b.part AS part_b,
         CAST(count(*) AS BIGINT) AS n_cooc,
         CAST(max(a.c) AS BIGINT) AS ca,
         CAST(max(b.c) AS BIGINT) AS cb
  FROM counted a JOIN counted b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_COOC}
)
SELECT part_a, part_b, n_cooc,
       floor((((SELECT CAST(count(*) AS DOUBLE) FROM orders) * CAST(n_cooc AS DOUBLE))
              / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM cxy
ORDER BY lift DESC, part_a ASC, part_b ASC
LIMIT {BASKET_TOP}
"""

QUERIES["basket_affinity"] = q_basket_affinity
ORACLES["basket_affinity"] = SQL_BASKET_AFFINITY


# ---------------------------------------------------------------------------
# Referential-integrity audit — r3

# (fk_name, child table, fk column, parent table, pk column) for every FK
# edge in the star/snowflake. Order here is the output order.
FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit for every foreign-key edge, in one result.

    The scale-correct construction: each child is first collapsed to its
    DISTINCT key space with per-key row counts (one hash-agg, map-side
    combined), and the anti-join against the parent's projected key column
    runs over |distinct keys| rows — NEVER the raw fact rows. At 100 TB
    lineitem that's the difference between anti-joining 600B rows and
    ~1.5B keys; parent sides are pruned to the single pk column so the
    small dims (nation/region) broadcast. Output per FK:
    (fk_name, child_rows, distinct_keys, orphan_keys, orphan_rows) —
    integer-exact, the governance dashboard row.
    """
    out = None
    for fk_name, child, fk, parent, pk in FK_EDGES:
        keyed = (
            load_table(spark, sf_dir, child)
            .where(F.col(fk).isNotNull())
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count("*").alias("rows_per_key"))
        )
        parent_keys = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k")).distinct()
        # r4: one LEFT join + one agg per edge instead of the anti-join
        # branch pair — the totals and the orphan stats read the keyed
        # relation once (was: two scans of every child per edge; 21 → 14
        # parquet scans across the 7 edges). Orphan = no parent hit.
        miss = F.col("_hit").isNull()
        row = (
            keyed.join(parent_keys.withColumn("_hit", F.lit(1)), "k", "left")
            .agg(
                F.sum("rows_per_key").cast("long").alias("child_rows"),
                F.count("*").cast("long").alias("distinct_keys"),
                F.count(F.when(miss, 1)).cast("long").alias("orphan_keys"),
                F.coalesce(F.sum(F.when(miss, F.col("rows_per_key"))), F.lit(0))
                .cast("long")
                .alias("orphan_rows"),
            )
            .select(F.lit(fk_name).alias("fk_name"), "child_rows", "distinct_keys", "orphan_keys", "orphan_rows")
        )
        out = row if out is None else out.unionAll(row)
    return out


def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fk_integrity_audit(spark, sf_dir)


def _fk_audit_sql_one(fk_name: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{fk_name}' AS fk_name,
       (SELECT CAST(count(*) AS BIGINT) FROM {child} WHERE {fk} IS NOT NULL) AS child_rows,
       (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {child} WHERE {fk} IS NOT NULL) AS distinct_keys,
       CAST(count(*) FILTER (WHERE o.k IS NOT NULL) AS BIGINT) AS orphan_keys,
       CAST(COALESCE(sum(o.rows_per_key), 0) AS BIGINT) AS orphan_rows
FROM (SELECT 1) one
LEFT JOIN (
  SELECT c.{fk} AS k, CAST(count(*) AS BIGINT) AS rows_per_key
  FROM {child} c
  WHERE c.{fk} IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})
  GROUP BY c.{fk}
) o ON TRUE
GROUP BY 1
"""


SQL_FK_INTEGRITY_AUDIT = "\nUNION ALL\n".join(
    _fk_audit_sql_one(*edge) for edge in FK_EDGES
)

QUERIES["fk_integrity_audit"] = q_fk_integrity_audit
ORACLES["fk_integrity_audit"] = SQL_FK_INTEGRITY_AUDIT


# ---------------------------------------------------------------------------
# Declarative data-quality constraint report — r13 (Deequ's shared-scan
# design, re-expressed as one DataFrame aggregation). The reference has no
# quality gate at all (LoadDataWarehouse.ChatterjeeP.R loads whatever the
# SQLite stage produced); fk_integrity_audit covers the JOIN edges, this
# covers the COLUMN contracts a production ingest asserts before
# publishing: completeness, uniqueness, value bounds, set membership,
# pattern compliance. The scale-defining property is Deequ's: every
# metric is a conditional aggregate over the SAME single scan — at
# 100 TB the whole suite costs ONE column-pruned pass (plus the expand
# for the single exact COUNT(DISTINCT)), never one scan per constraint.
# The 1-row metrics result is exploded to per-constraint rows with
# stack() — zero driver round-trips, no collect.
# ---------------------------------------------------------------------------

# Year bounds for the order-date sanity constraint: the generator's
# domain is 1995-2001; the audit band is deliberately wider (an alarm
# for corrupt timestamps — the 1000x nanos regression class — not a
# re-derivation of the data's exact extent).
DQ_YEAR_LO, DQ_YEAR_HI = 1990, 2005
DQ_PRICE_CAP = 1e7  # o_totalprice is SF-invariant per row; 10M = corrupt


def dq_constraint_report(orders: DataFrame) -> DataFrame:
    viol = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("double")  # noqa: E731
    m = orders.agg(
        F.count(F.lit(1)).cast("double").alias("n_rows"),
        viol(F.col("o_orderkey").isNull()).alias("key_nulls"),
        F.countDistinct("o_orderkey").cast("double").alias("key_distinct"),
        viol(F.col("o_custkey").isNull()).alias("cust_nulls"),
        # NULL counts as a violation for every value constraint below
        # (completeness is asserted separately only for the key columns;
        # a NULL price/status/date is not a PASSING price/status/date)
        viol(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
        ).alias("price_nonpos"),
        F.max("o_totalprice").cast("double").alias("price_max"),
        viol(
            F.col("o_orderdate").isNull()
            | ~F.year("o_orderdate").between(DQ_YEAR_LO, DQ_YEAR_HI)
        ).alias("date_oob"),
        viol(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("O", "F", "P")
        ).alias("status_oob"),
        viol(
            F.col("o_orderpriority").isNull()
            | ~F.col("o_orderpriority").rlike("^[1-5]-")
        ).alias("prio_bad"),
    )
    return m.select(
        F.expr(
            f"""stack(9,
  'rows_nonzero',       n_rows,                 CAST(n_rows > 0 AS BIGINT),
  'orderkey_complete',  key_nulls,              CAST(key_nulls = 0 AS BIGINT),
  'orderkey_unique',    n_rows - key_distinct,  CAST(n_rows - key_distinct = 0 AS BIGINT),
  'custkey_complete',   cust_nulls,             CAST(cust_nulls = 0 AS BIGINT),
  'totalprice_positive', price_nonpos,          CAST(price_nonpos = 0 AS BIGINT),
  'totalprice_max_bound', price_max,            CAST(price_max <= {DQ_PRICE_CAP} AS BIGINT),
  'orderdate_in_range', date_oob,               CAST(date_oob = 0 AS BIGINT),
  'orderstatus_in_set', status_oob,             CAST(status_oob = 0 AS BIGINT),
  'orderpriority_pattern', prio_bad,            CAST(prio_bad = 0 AS BIGINT)
) AS (check_name, observed, passed)"""
        )
    )


def q_dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq_constraint_report(load_table(spark, sf_dir, "orders"))


SQL_DQ_CONSTRAINT_REPORT = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
         CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS DOUBLE) AS key_nulls,
         CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS key_distinct,
         CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS DOUBLE) AS cust_nulls,
         CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS DOUBLE) AS price_nonpos,
         CAST(MAX(o_totalprice) AS DOUBLE) AS price_max,
         CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL
               OR YEAR(o_orderdate) NOT BETWEEN {DQ_YEAR_LO} AND {DQ_YEAR_HI}) AS DOUBLE) AS date_oob,
         CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NULL
               OR o_orderstatus NOT IN ('O','F','P')) AS DOUBLE) AS status_oob,
         CAST(COUNT(*) FILTER (WHERE o_orderpriority IS NULL
               OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS DOUBLE) AS prio_bad
  FROM orders
)
SELECT 'rows_nonzero' AS check_name, n_rows AS observed,
       CAST(n_rows > 0 AS BIGINT) AS passed FROM m
UNION ALL SELECT 'orderkey_complete', key_nulls, CAST(key_nulls = 0 AS BIGINT) FROM m
UNION ALL SELECT 'orderkey_unique', n_rows - key_distinct,
       CAST(n_rows - key_distinct = 0 AS BIGINT) FROM m
UNION ALL SELECT 'custkey_complete', cust_nulls, CAST(cust_nulls = 0 AS BIGINT) FROM m
UNION ALL SELECT 'totalprice_positive', price_nonpos, CAST(price_nonpos = 0 AS BIGINT) FROM m
UNION ALL SELECT 'totalprice_max_bound', price_max,
       CAST(price_max <= {DQ_PRICE_CAP} AS BIGINT) FROM m
UNION ALL SELECT 'orderdate_in_range', date_oob, CAST(date_oob = 0 AS BIGINT) FROM m
UNION ALL SELECT 'orderstatus_in_set', status_oob, CAST(status_oob = 0 AS BIGINT) FROM m
UNION ALL SELECT 'orderpriority_pattern', prio_bad, CAST(prio_bad = 0 AS BIGINT) FROM m
"""

QUERIES["dq_constraint_report"] = q_dq_constraint_report
ORACLES["dq_constraint_report"] = SQL_DQ_CONSTRAINT_REPORT


# ---------------------------------------------------------------------------
# Point-in-time (feature-store) join — r3

def pit_feature_join(events: DataFrame) -> DataFrame:
    """Each click joined to the SCD2 state version valid AT click time —
    the feature-store point-in-time join that prevents feature leakage
    (never reads a dimension version from the future).

    Construction: equi-join on user_id against the versioned dimension
    (scd2_intervals output) with the half-open interval predicate
    valid_from <= ts < valid_to as a post-join filter — the standard PIT
    shape when the dimension is a separate versioned table (the as-of
    operator's union-tag trick needs fact+changelog co-sortable in one
    stream). Each fact matches at most one version (intervals partition
    the timeline per user; zero-width versions from same-ts changes match
    nothing). One shuffle on user_id; per-user version counts are small so
    the range filter is cheap; LEFT keeps pre-first-version clicks with
    NULL features. At 100 TB: broadcast nothing, AQE handles hot users.
    """
    dim = scd2_intervals(events)
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    cond = (
        (clicks.user_id == dim.user_id)
        & (dim.valid_from <= clicks.ts)
        & (dim.valid_to.isNull() | (clicks.ts < dim.valid_to))
    )
    return clicks.join(dim, cond, "left").select(
        clicks.event_id,
        clicks.user_id,
        clicks.ts,
        dim.version,
        dim.state_value,
        dim.valid_from.alias("feature_as_of"),
    )


def q_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pit_feature_join(load_table(spark, sf_dir, "events"))


SQL_PIT_FEATURE_JOIN = """
WITH dim AS (
  SELECT user_id,
         CAST(row_number() OVER w AS BIGINT) AS version,
         value AS state_value,
         ts AS valid_from,
         lead(ts) OVER w AS valid_to
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT c.event_id, c.user_id, c.ts,
       d.version, d.state_value, d.valid_from AS feature_as_of
FROM events c
LEFT JOIN dim d
  ON d.user_id = c.user_id
 AND d.valid_from <= c.ts
 AND (d.valid_to IS NULL OR c.ts < d.valid_to)
WHERE c.event_type = 'click'
"""

QUERIES["pit_feature_join"] = q_pit_feature_join
ORACLES["pit_feature_join"] = SQL_PIT_FEATURE_JOIN


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split — r3

def leakage_safe_split(events: DataFrame) -> DataFrame:
    """Group-wise (per-user) train/val/test assignment: every event of a
    user lands in the SAME split, so no user's behavior leaks across the
    boundary — the correct split discipline for user-level models (a
    row-wise random split leaks history).

    Deterministic md5 bucket of user_id (reproducible anywhere, no RNG
    state); split sizes 80/10/10. Single scan + one hash-agg; the
    assignment is a pure projection so at 100 TB the split is a free
    column, not a shuffle.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        events.select(split.alias("split"), "user_id", "event_id")
        .groupBy("split")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").cast("long").alias("n_events"),
        )
        .orderBy("split")
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return leakage_safe_split(load_table(spark, sf_dir, "events"))


SQL_LEAKAGE_SAFE_SPLIT = """
WITH b AS (
  SELECT CASE
           WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 80 THEN 'train'
           WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 90 THEN 'val'
           ELSE 'test'
         END AS split,
         user_id, event_id
  FROM events
)
SELECT split,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM b GROUP BY split ORDER BY split
"""

QUERIES["leakage_safe_split"] = q_leakage_safe_split
ORACLES["leakage_safe_split"] = SQL_LEAKAGE_SAFE_SPLIT


# ---------------------------------------------------------------------------
# Incremental aggregate (materialized-view) maintenance — r3

def incremental_agg_maintenance(events: DataFrame) -> DataFrame:
    """Materialized-view maintenance without recompute: an hourly rollup
    held as a snapshot is advanced by aggregating ONLY the delta batch and
    merging — the core of every incremental warehouse pipeline (the
    foreachBatch MERGE in streaming/partitioned_upsert.py is the
    streaming twin).

    The oracle is NOT a translation of this plan: it recomputes the rollup
    from scratch over base ∪ delta. Equality therefore PROVES the
    incremental path is exact — which only holds because the merged
    measures are DECIMAL sums and counts (associative, order-independent);
    a double accumulator would drift per batch boundary (ADVICE r2 on
    upsert.py). Base/delta split: event_id % 4 (deterministic stand-ins
    for 'snapshot' and 'new arrivals'). Cost: |delta| scan + a merge join
    on the rollup key — never touches base fact rows, the whole point at
    100 TB.
    """
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    units = (
        F.col("value").cast("decimal(18,10)") * F.lit(10_000_000_000).cast("decimal(12,0)")
    ).cast("decimal(38,0)")

    def rollup(df):
        return df.groupBy(F.col("event_type"), hour).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(units).alias("total"),
        )

    base = rollup(events.where(F.col("event_id") % 4 != 0))
    delta = rollup(events.where(F.col("event_id") % 4 == 0))
    merged = (
        base.alias("b")
        .join(delta.alias("d"), ["event_type", "hour"], "full_outer")
        .select(
            "event_type",
            "hour",
            (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0)))
            .cast("long")
            .alias("n"),
            (
                F.coalesce(F.col("b.total"), F.lit(0).cast("decimal(38,0)"))
                + F.coalesce(F.col("d.total"), F.lit(0).cast("decimal(38,0)"))
            ).alias("total_units"),
        )
        .select(
            "event_type",
            "hour",
            "n",
            (F.col("total_units").cast("double") / F.lit(1e10)).alias("total"),
        )
    )
    return merged


def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_agg_maintenance(load_table(spark, sf_dir, "events"))


# full recompute over ALL rows — deliberately NOT the incremental plan
SQL_INCREMENTAL_AGG_MAINTENANCE = """
SELECT event_type,
       date_trunc('hour', ts) AS hour,
       CAST(count(*) AS BIGINT) AS n,
       (CAST(sum(CAST(CAST(value AS DECIMAL(18,10)) * 10000000000 AS DECIMAL(38,0))) AS DOUBLE) / 10000000000.0) AS total
FROM events
GROUP BY 1, 2
"""

QUERIES["incremental_agg_maintenance"] = q_incremental_agg_maintenance
ORACLES["incremental_agg_maintenance"] = SQL_INCREMENTAL_AGG_MAINTENANCE


# ---------------------------------------------------------------------------
# Functional-dependency discovery — r3

# candidate (lhs -> rhs) dependencies over orders; a holds/violates report
# is the Metanome-style profiling primitive behind schema inference and
# key detection.
FD_CANDIDATES = [
    ("o_orderkey", "o_custkey"),      # holds: orderkey is the PK
    ("o_orderkey", "o_orderstatus"),  # holds
    ("o_custkey", "o_orderstatus"),   # violated: customers change status
    ("o_custkey", "o_orderpriority"), # violated
    ("o_orderstatus", "o_orderpriority"),  # violated
]


def fd_discovery(orders: DataFrame) -> DataFrame:
    """Violation counts for candidate functional dependencies lhs -> rhs.

    Per candidate: ONE hash-agg on lhs computing countDistinct(rhs) —
    map-side combined, |lhs groups| output rows — then a count of groups
    with >1 distinct rhs. Integer-exact; each candidate is an independent
    branch over a column-pruned scan (at 100 TB batch candidates per scan
    by lhs to amortize — the shuffles differ per lhs so branching is the
    honest shape). An FD 'holds' iff n_violating_groups = 0.
    """
    out = None
    for lhs, rhs in FD_CANDIDATES:
        g = orders.groupBy(F.col(lhs)).agg(F.countDistinct(F.col(rhs)).alias("ndv"))
        row = g.agg(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.count("*").cast("long").alias("n_lhs_groups"),
            F.sum(F.when(F.col("ndv") > 1, 1).otherwise(0)).cast("long").alias("n_violating_groups"),
            F.max("ndv").cast("long").alias("max_rhs_per_lhs"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fd_discovery(load_table(spark, sf_dir, "orders"))


def _fd_sql_one(lhs: str, rhs: str) -> str:
    return f"""
SELECT '{lhs}->{rhs}' AS fd,
       CAST(count(*) AS BIGINT) AS n_lhs_groups,
       CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(max(ndv) AS BIGINT) AS max_rhs_per_lhs
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS ndv FROM orders GROUP BY {lhs}) g
"""


SQL_FD_DISCOVERY = "\nUNION ALL\n".join(_fd_sql_one(l, r) for l, r in FD_CANDIDATES)

QUERIES["fd_discovery"] = q_fd_discovery
ORACLES["fd_discovery"] = SQL_FD_DISCOVERY


# ---------------------------------------------------------------------------
# k-anonymity audit (r3, governance): group sizes over a quasi-identifier
# tuple — the standard re-identification risk readout before releasing or
# training on user-adjacent data. A combo with n < K is risky; n_nation
# (the one-level generalization: drop the segment) shows the anonymity
# gained by coarsening, i.e. the next rung of the generalization ladder.
#
# Shape: one hash agg on the quasi-identifier (125 combos), then a window
# over <= 25-row nation partitions — no full-data second pass, no global
# sort. At 100 TB the agg is the only data-sized stage.
# ---------------------------------------------------------------------------

K_ANON = 5


def k_anonymity_audit(customer: DataFrame, k: int = K_ANON) -> DataFrame:
    combos = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_nationkey")
    return combos.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        (F.col("n") < k).alias("risky"),
        F.sum("n").over(w).cast("long").alias("n_nation"),
    )


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return k_anonymity_audit(load_table(spark, sf_dir, "customer"))


SQL_K_ANONYMITY_AUDIT = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       count(*) < {K_ANON} AS risky,
       CAST(SUM(count(*)) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n_nation
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""

QUERIES["k_anonymity_audit"] = q_k_anonymity_audit
ORACLES["k_anonymity_audit"] = SQL_K_ANONYMITY_AUDIT


# ---------------------------------------------------------------------------
# Calendar dimension generator (r3): the one warehouse table every star
# schema needs that comes from NO source — generated, not scanned. Built on
# spark.range (a parallel source: rows are split across tasks by id range,
# so a century of days — or a span of seconds — generates distributed, not
# as one driver-side literal array). Day-of-week uses epoch-day arithmetic
# ((days + 3) % 7 + 1, anchored on 1970-01-01 = Thursday) — engine-neutral,
# immune to locale/WEEK_START settings on either side.
# ---------------------------------------------------------------------------

CAL_START = "1995-01-01"
CAL_N_DAYS = 731  # 1995-01-01 .. 1996-12-31


def calendar_dim(spark: SparkSession) -> DataFrame:
    d = F.date_add(F.lit(CAL_START).cast("date"), F.col("id").cast("int"))
    days = F.datediff(d, F.lit("1970-01-01").cast("date"))
    dow_iso = ((days + F.lit(3)) % 7) + 1
    return spark.range(CAL_N_DAYS).select(
        d.cast("string").alias("cal_date"),
        F.year(d).cast("int").alias("year"),
        F.quarter(d).cast("int").alias("quarter"),
        F.month(d).cast("int").alias("month"),
        F.dayofmonth(d).cast("int").alias("day"),
        dow_iso.cast("int").alias("dow_iso"),
        (dow_iso >= F.lit(6)).alias("is_weekend"),
    )


def q_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calendar_dim(spark)


SQL_CALENDAR_DIM = f"""
WITH ids AS (
  SELECT unnest(generate_series(0, {CAL_N_DAYS - 1})) AS id
),
d AS (
  SELECT (DATE '{CAL_START}' + CAST(id AS INT)) AS cal_date FROM ids
)
SELECT CAST(cal_date AS VARCHAR) AS cal_date,
       CAST(year(cal_date) AS INT) AS year,
       CAST(quarter(cal_date) AS INT) AS quarter,
       CAST(month(cal_date) AS INT) AS month,
       CAST(day(cal_date) AS INT) AS day,
       CAST(((cal_date - DATE '1970-01-01' + 3) % 7) + 1 AS INT) AS dow_iso,
       ((cal_date - DATE '1970-01-01' + 3) % 7) + 1 >= 6 AS is_weekend
FROM d
"""

QUERIES["calendar_dim"] = q_calendar_dim
ORACLES["calendar_dim"] = SQL_CALENDAR_DIM


# ---------------------------------------------------------------------------
# Table content hash (r3): one order-independent digest per table — the
# content-addressable fingerprint behind snapshot diffing, cache
# invalidation, and replica verification ("did the copy arrive intact?"
# without sorting either side). Complements table_diff (which says WHAT
# changed): hash inequality is the O(1)-output change detector.
#
# Digest = exact DECIMAL(38,0) sum of a 48-bit integer derived from each
# row's md5 (row identity = all columns joined on a \x01 separator, NULL
# spelled as \x00NULL so it can't collide with a real string) + the row
# count. Addition is commutative/associative and the decimal accumulator
# cannot overflow below ~10^23 rows, so ANY partitioning/order yields the
# identical digest — exactly the property a distributed fingerprint
# needs. (Collisions of the sum-of-48-bit construction are the accepted
# tradeoff; once inequality fires, table_diff localizes the change.)
# One scan per table, 1-row output each.
#
# String-canonicalization contract: row identity casts every column to
# string. Spark prints DOUBLE >= 1e7 in E-notation while DuckDB never
# does; the corpus's doubles are bounded < 1e6 (checked), and an ingest
# carrying larger magnitudes must canonicalize numerics (e.g. cast to
# DECIMAL with fixed scale) on BOTH sides before fingerprinting.
# ---------------------------------------------------------------------------

_HASH_TABLES = ("orders", "lineitem", "documents")


def _content_hash(df: DataFrame, name: str) -> DataFrame:
    cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\u0000NULL")) for c in df.columns
    ]
    row48 = F.conv(
        F.substring(F.md5(F.concat_ws("\u0001", *cols)), 1, 12), 16, 10
    ).cast("decimal(38,0)")
    return df.agg(
        F.lit(name).alias("table_name"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(row48).cast("decimal(38,0)").cast("string").alias("content_hash"),
    )


def table_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [_content_hash(load_table(spark, sf_dir, t, spread=True), t) for t in _HASH_TABLES]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _content_hash_sql(table: str, cols: list[str]) -> str:
    concat = ", ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(0) || 'NULL')" for c in cols
    )
    return f"""
SELECT '{table}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST(('0x' || substr(md5(concat_ws(chr(1), {concat})), 1, 12))
                          AS UBIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS content_hash
FROM {table}
"""


# oracle column lists derived from catalog.SCHEMAS (field names in schema
# order — exactly what load_table gives the Spark side's df.columns), so a
# catalog schema change cannot desynchronize the two engines' row identity
_HASH_COLS = {
    t: [f.name for f in SCHEMAS[t].fields] for t in _HASH_TABLES
}

SQL_TABLE_CONTENT_HASH = "\nUNION ALL\n".join(
    _content_hash_sql(t, _HASH_COLS[t]) for t in _HASH_TABLES
)

QUERIES["table_content_hash"] = table_content_hash
ORACLES["table_content_hash"] = SQL_TABLE_CONTENT_HASH


# ---------------------------------------------------------------------------
# ID gap analysis (r4 de-globalized, data quality): holes in a
# supposedly-dense key sequence — the "did ingestion drop rows?" check
# every CDC/batch loader runs. Emits each gap as [after, before] with its
# width; summary derivable by the consumer.
#
# Shape: distinct keys (fact rows collapse first), then the two-level
# bucketed window the r3 comment prescribed instead of a global
# lead() OVER (ORDER BY k): keys hash into fixed-width buckets
# (k div GAP_BUCKET), within-bucket gaps come from lead() partitioned by
# bucket (bounded state, fully distributed), and cross-bucket gaps from a
# lead() over the per-bucket min/max summary — a relation of
# n_keys/GAP_BUCKET rows, the same P-row scale as the offsets window in
# with_global_rank. Empty buckets between occupied ones fall out of the
# summary lead automatically (last key of bucket i pairs with the first
# key of the next OCCUPIED bucket). At 100 TB size GAP_BUCKET so the
# summary stays driver-scale (e.g. 2^20 keys/bucket → 10^8 keys of
# summary per 10^14 keyspace); recurse the construction if it doesn't.
# ---------------------------------------------------------------------------

GAP_BUCKET = 4096  # keys per bucket; small enough that sf0.01 exercises
                   # the cross-bucket boundary path (~15 occupied buckets)


def id_gap_analysis(orders: DataFrame) -> DataFrame:
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    bucketed = keys.withColumn(
        "_b", F.floor(F.col("k") / F.lit(GAP_BUCKET)).cast("long")
    )
    w_in = Window.partitionBy("_b").orderBy("k")
    within = bucketed.select(
        "k", F.lead("k").over(w_in).alias("nk")
    ).filter(F.col("nk").isNotNull())
    bounds = bucketed.groupBy("_b").agg(
        F.min("k").alias("bmin"), F.max("k").alias("bmax")
    )
    w_cross = Window.orderBy("_b")
    cross = bounds.select(
        F.col("bmax").alias("k"), F.lead("bmin").over(w_cross).alias("nk")
    ).filter(F.col("nk").isNotNull())
    return (
        within.unionByName(cross)
        .filter(F.col("nk") > F.col("k") + 1)
        .select(
            F.col("k").alias("gap_after"),
            F.col("nk").alias("gap_before"),
            (F.col("nk") - F.col("k") - 1).cast("long").alias("missing"),
        )
    )


def q_id_gap_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registered over the F-status subset: the full o_orderkey space is
    # dense (0 gaps -> a vacuous hash), while the subset's keyspace is
    # gap-rich, so the driver row checks real gap output end-to-end
    orders = load_table(spark, sf_dir, "orders")
    return id_gap_analysis(orders.filter(F.col("o_orderstatus") == "F"))


SQL_ID_GAP_ANALYSIS = """
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
paired AS (SELECT k, lead(k) OVER (ORDER BY k) AS nk FROM keys)
SELECT k AS gap_after, nk AS gap_before,
       CAST(nk - k - 1 AS BIGINT) AS missing
FROM paired
WHERE nk > k + 1
"""

QUERIES["id_gap_analysis"] = q_id_gap_analysis
ORACLES["id_gap_analysis"] = SQL_ID_GAP_ANALYSIS


# ---------------------------------------------------------------------------
# Supplier-concentration HHI (r3): per part, the Herfindahl index of
# supplier share of supplied quantity — the single-source dependency risk
# readout (HHI -> 1 means one supplier carries the part). Exactness: the
# cross-supplier sum runs over DECIMAL squares (quantities are exact
# cents, so q² is an exact decimal; a double Σ(share²) would depend on
# accumulation order), with ONE double division at the end:
# HHI = Σq² / Q². Two hash aggs keyed (part, supplier) then part — both
# map-side combined; per-part supplier fan-in is bounded (TPC-H ≤ 4).
# ---------------------------------------------------------------------------

def supplier_hhi(lineitem: DataFrame) -> DataFrame:
    per_ps = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        # widened sum cast back down to (18,2): |q| is tiny, and the
        # narrow operand keeps q*q inside decimal(38) on both engines
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("q")
    )
    per_part = per_ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("q").cast("decimal(18,2)").alias("qt"),
        F.sum(F.col("q") * F.col("q")).alias("sum_q2"),
    )
    hhi = F.col("sum_q2").cast("double") / (
        F.col("qt") * F.col("qt")
    ).cast("double")
    return per_part.select(
        "l_partkey",
        "n_suppliers",
        F.col("qt").cast("double").alias("total_qty"),
        round_half_up(hhi, 6).alias("hhi"),
    )


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return supplier_hhi(load_table(spark, sf_dir, "lineitem"))


SQL_SUPPLIER_HHI = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
per_part AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(q) AS DECIMAL(18,2)) AS qt,
         SUM(q * q) AS sum_q2
  FROM per_ps GROUP BY l_partkey
)
SELECT l_partkey, n_suppliers,
       CAST(qt AS DOUBLE) AS total_qty,
       floor((CAST(sum_q2 AS DOUBLE) / CAST(qt * qt AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS hhi
FROM per_part
"""

QUERIES["supplier_hhi"] = q_supplier_hhi
ORACLES["supplier_hhi"] = SQL_SUPPLIER_HHI
