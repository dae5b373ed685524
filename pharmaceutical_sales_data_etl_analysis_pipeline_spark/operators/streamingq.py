"""Driver-verified Structured Streaming query.

Round 2's streaming surface (windows/watermarks, stateful ops, stream-stream
joins, foreachBatch upsert) is batch-equivalence tested in
tests/test_streaming.py but had no `queries()` entry — the one completeness
note left in VERDICT r2. This registers one: the tumbling-hourly rollup
executed AS A STREAM (file source -> availableNow trigger -> foreachBatch
sink), read back and compared against the plain batch SQL oracle. The driver
gate therefore proves stream/batch result parity end-to-end, not just
row-count sanity.

Construction: `availableNow` replays the parquet as a bounded stream (the
backfill pattern); the aggregation runs in `complete` mode and foreachBatch
overwrites one parquet result per epoch — the final epoch IS the full
rollup, and overwrite makes replays idempotent. At 100 TB the identical
topology runs unbounded with `update` mode + MERGE upsert
(streaming/partitioned_upsert.py); the rollup itself is the same exact-decimal
map-side-combined aggregation as the batch `tumbling_hourly`
(operators/eventsops.py — shared code, single source of truth).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import normalize_event_ts, stream_table_source
from .eventsops import SQL_TUMBLING_HOURLY, tumbling_hourly

# per-invocation scratch under the shared reclaimed-at-exit base — the
# returned DataFrame reads the result parquet lazily, so cleanup must be
# deferred to process exit, exactly pin.scratch_dir's contract
from .pin import scratch_dir as _scratch_dir


def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the hourly rollup as a bounded stream; return the final state."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = stream_table_source(spark, sf_dir, "events", schema)
    # same TIMESTAMP(NANOS) reader-drift normalization as the batch path
    rollup = tumbling_hourly(normalize_event_ts(stream))

    base = _scratch_dir("stream_tumbling_")
    out_dir = os.path.join(base, "result")
    ckpt_dir = os.path.join(base, "checkpoint")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    (
        rollup.writeStream.outputMode("complete")
        .foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir)


QUERIES = {"stream_tumbling_hourly": stream_tumbling_hourly}
# stream/batch parity IS the check: the oracle is the batch rollup's SQL
ORACLES = {"stream_tumbling_hourly": SQL_TUMBLING_HOURLY}


# ---------------------------------------------------------------------------
# Second streaming entry (r3): exact dedup as a stream. The corpus-prep
# gate people actually run incrementally — fingerprint every arriving
# document and maintain the distinct-content table. Deterministic by
# construction: the survivor is min(doc_id) and the multiplicity a count
# (both order/batch-independent aggregates), unlike raw streaming
# dropDuplicates whose surviving ROW depends on arrival order. Same
# availableNow/complete/foreachBatch topology as stream_tumbling_hourly;
# unbounded operation would switch to update mode + MERGE (the
# streaming/partitioned_upsert.py path) with the identical aggregation.
# ---------------------------------------------------------------------------


def stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = stream_table_source(spark, sf_dir, "documents", schema)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    dedup = (
        stream.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )

    base = _scratch_dir("stream_dedup_")
    out_dir = os.path.join(base, "result")
    ckpt_dir = os.path.join(base, "checkpoint")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_dir)

    (
        dedup.writeStream.outputMode("complete")
        .foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir)


SQL_STREAM_EXACT_DEDUP = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
"""

QUERIES["stream_exact_dedup"] = stream_exact_dedup
ORACLES["stream_exact_dedup"] = SQL_STREAM_EXACT_DEDUP


# ---------------------------------------------------------------------------
# Third + fourth streaming entries (r6, VERDICT ask #4): the two broad-
# surface shapes that were tested but unregistered — the stream-stream
# attribution join and dropDuplicatesWithinWatermark — each run as an
# availableNow bounded stream with an exact batch oracle.
#
# Determinism arguments (why a streaming plan can carry a hash-exact
# oracle):
# - attribution: an INNER stream-stream join emits exactly the matching
#   pairs; watermarks only bound STATE (eviction), never which matches
#   emit on a full replay — so the output multiset equals the batch
#   self-join whatever the batching. Append mode, epochs appended.
# - dedup-within-watermark: duplicates are PLANTED by exploding ~10% of
#   rows into two identical copies IN THE SAME INPUT ROW, so both copies
#   always land in the same micro-batch and the in-batch state lookup
#   drops the second copy deterministically (no cross-batch watermark-
#   expiry race — the failure mode that makes arrival-order-dependent
#   streaming dedup un-oracle-able). Exactly one copy of every event
#   survives, so the oracle is the events table itself and the ROW COUNT
#   proves the operator collapsed the planted 10% (input > output).
# ---------------------------------------------------------------------------

DEDUP_PLANT_MOD = 10  # every 10th event_id arrives twice


def _run_append_stream(spark: SparkSession, streaming_df: DataFrame, prefix: str) -> DataFrame:
    """availableNow + append-mode foreachBatch appender; read back with
    the plan's own schema (robust to an all-empty epoch)."""
    base = _scratch_dir(prefix)
    out_dir = os.path.join(base, "result")
    ckpt_dir = os.path.join(base, "checkpoint")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    (
        streaming_df.writeStream.outputMode("append")
        .foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.schema(streaming_df.schema).parquet(out_dir)


def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import click_purchase_attribution

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_event_ts(stream_table_source(spark, sf_dir, "events", schema))
    return _run_append_stream(
        spark, click_purchase_attribution(stream), "stream_attrib_"
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.joins import dedup_stream_within_watermark

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_event_ts(stream_table_source(spark, sf_dir, "events", schema))
    cols = stream.columns
    planted = stream.withColumn(
        "_copy",
        F.explode(
            F.when(
                F.col("event_id") % DEDUP_PLANT_MOD == 0,
                F.array(F.lit(1), F.lit(2)),
            ).otherwise(F.array(F.lit(1)))
        ),
    ).select(*cols)
    return _run_append_stream(
        spark, dedup_stream_within_watermark(planted), "stream_wmdedup_"
    )


SQL_STREAM_CLICK_ATTRIBUTION = """
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""

# exactly one survivor per planted pair == the original table
SQL_STREAM_DEDUP_WITHIN_WATERMARK = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""

QUERIES["stream_click_attribution"] = stream_click_attribution
ORACLES["stream_click_attribution"] = SQL_STREAM_CLICK_ATTRIBUTION
QUERIES["stream_dedup_within_watermark"] = stream_dedup_within_watermark
ORACLES["stream_dedup_within_watermark"] = SQL_STREAM_DEDUP_WITHIN_WATERMARK


# ---------------------------------------------------------------------------
# Fifth streaming entry (r6): the bucket-partitioned copy-on-write MERGE's
# change data feed, driver-verified. Two deterministic micro-batches fold
# into the CoW state table (streaming/partitioned_upsert.py — the
# foreachBatch body of run_partitioned_incremental_merge; the readStream
# wrapper itself is exercised by tests/test_partitioned_upsert.py):
#   batch 0: per-customer 1992-1995 order spend (the initial load),
#   batch 1: 1996+ spend as upserts PLUS delete tombstones for every
#            batch-0 customer with custkey % 10 == 0 ("replace" CDC:
#            tombstone discards prior state, same-batch upserts re-insert
#            from zero).
# The query returns partitioned_state_changes(v0, v1) — the manifest-
# pruned CDF (only buckets whose pointer changed are read; at 100 TB a
# point-update batch's feed costs O(touched buckets), not O(|state|)).
# The oracle recomputes both versions and their diff in plain SQL; the
# decimal folds are exact on both engines so the DOUBLE read boundary
# hashes identically.
# ---------------------------------------------------------------------------

CDF_TOMBSTONE_MOD = 10  # batch-0 custkeys ≡ 0 (mod 10) get tombstoned


def _cdc_batches(orders: DataFrame):
    """The shared two-batch CDC fixture: (initial load, upserts+tombstones).
    The corpus-derived fixture width keeps the layout multi-bucket at
    every SF (the production 1M default would put all sf0.01 custkeys in
    one bucket and make manifest pruning vacuous)."""
    from pyspark.sql import functions as F

    cut = F.lit("1996-01-01")
    b0 = orders.filter(F.col("o_orderdate") < cut).drop("o_orderdate")
    upserts = (
        orders.filter(F.col("o_orderdate") >= cut)
        .drop("o_orderdate")
        .withColumn("op", F.lit("upsert"))
    )
    tombstones = (
        b0.select("key")
        .distinct()
        .filter(F.col("key") % CDF_TOMBSTONE_MOD == 0)
        .select("key", F.lit(0.0).alias("amount"), F.lit("delete").alias("op"))
    )
    return b0, upserts.unionByName(tombstones)


def cow_merge_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.partitioned_upsert import (
        merge_batch_into_partitioned_state,
        partitioned_state_changes,
    )

    def build(orders: DataFrame, width: int, state: str) -> None:
        b0, b1 = _cdc_batches(orders)
        merge_batch_into_partitioned_state(spark, state, b0, 0, range_width=width)
        merge_batch_into_partitioned_state(spark, state, b1, 1, range_width=width)

    state = _memoized_state(spark, sf_dir, "cow_cdf", build)
    return partitioned_state_changes(spark, state, 0, 1)


SQL_COW_MERGE_CHANGES = f"""
WITH v0 AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), up AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
), v1 AS (
  SELECT COALESCE(v0.key, up.key) AS key,
         CASE WHEN v0.key IS NOT NULL AND v0.key % {CDF_TOMBSTONE_MOD} = 0
              THEN up.total
              ELSE COALESCE(v0.total, CAST(0 AS DECIMAL(18,2)))
                   + COALESCE(up.total, CAST(0 AS DECIMAL(18,2))) END AS total,
         CASE WHEN v0.key IS NOT NULL AND v0.key % {CDF_TOMBSTONE_MOD} = 0
              THEN up.n ELSE COALESCE(v0.n, 0) + COALESCE(up.n, 0) END AS n
  FROM v0 FULL OUTER JOIN up ON v0.key = up.key
), v1f AS (
  SELECT * FROM v1 WHERE total IS NOT NULL
)
SELECT COALESCE(a.key, b.key) AS key,
       CASE WHEN a.key IS NULL THEN 'insert'
            WHEN b.key IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       CAST(a.total AS DOUBLE) AS old_total,
       CAST(b.total AS DOUBLE) AS new_total,
       CAST(a.n AS BIGINT) AS old_n_rows,
       CAST(b.n AS BIGINT) AS new_n_rows
FROM v0 a FULL OUTER JOIN v1f b ON a.key = b.key
WHERE a.key IS NULL OR b.key IS NULL
   OR a.total <> b.total OR a.n <> b.n
"""

QUERIES["cow_merge_changes"] = cow_merge_changes
ORACLES["cow_merge_changes"] = SQL_COW_MERGE_CHANGES


# ---------------------------------------------------------------------------
# Zone-map entries (r6): the CoW manifest's per-bucket file statistics,
# driver-verified through both read paths they power. Shared fixture: the
# per-customer spend state folded in two micro-batches (pre-1996 load,
# then 1996+ upserts) with a 100-key range width so even sf0.01's ~1.5k
# custkeys spread over ~15 buckets — batch 1 then exercises BOTH stats
# recomputation (touched buckets) and stats inheritance (untouched ones)
# in the exact layout the driver hashes.
#   - cow_manifest_summary: COUNT/SUM/MIN/MAX of the state answered from
#     manifest stats alone (test_manifest_summary_is_metadata_only proves
#     the data files are never read) — at 100 TB a metadata lookup, not a
#     table scan. The decimal fold is exact on both engines, so the one
#     DOUBLE cast at the boundary hashes identically.
#   - cow_keyrange_lookup: a key-range scan pruned by bucket arithmetic +
#     min/max zone maps; at 100 TB a point lookup reads one bucket (GBs),
#     not the table.
# ---------------------------------------------------------------------------

# Fixture width derivation: per the repo's contract-parameters-derive-
# from-corpus-size doctrine (kmeans K, LSH planes/tables), the bucket
# width follows the key domain so the bucket COUNT stays ~fixed at every
# SF. A constant width would make bucket count — and the merge's
# O(buckets) rename/manifest work — grow linearly with the corpus, a
# fixture-induced super-linearity the sf0.1->sf1 ladder would flag.
# Results are width-invariant (the oracle never sees the layout); width
# only decides how much pruning the driver run exercises.
COW_FIXTURE_TARGET_BUCKETS = 16
COW_FIXTURE_MIN_WIDTH = 100  # sf0.01 floor: keeps >= ~15 buckets there

# Memo for the on-disk CoW/MoR state fixtures (VERDICT r6: a 202-query
# sweep paid the same two-merge build three times over — the most
# expensive registered queries). The cached value is the committed state
# DIRECTORY path — a pure function of the key: the exact orders file set
# + semantic hash (overwritten testdata keys differently) + a fixture
# tag, same discipline as the kmeans/components memos. The dir lives in
# pin.scratch_dir space (reclaimed at process exit, like every lazily-
# read query scratch), and the value holds no session reference, so any
# in-process session can read it. SPARK_GRAFT_BUILD_CACHE=0 disables —
# bench.py sets it, so the BUILD stays what bench measures.
_COW_STATE_MEMO: dict = {}


def _cow_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..catalog import load_table

    return load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("amount"),
        "o_orderdate",
    )


def _cow_fixture_width(orders: DataFrame) -> int:
    import math as _math

    from pyspark.sql import functions as F

    max_key = orders.agg(F.max("key")).first()[0]
    return max(
        COW_FIXTURE_MIN_WIDTH,
        _math.ceil((max_key + 1) / COW_FIXTURE_TARGET_BUCKETS),
    )


def _memoized_state(spark: SparkSession, sf_dir: str, tag: str, build) -> str:
    """Build (or reuse) an on-disk state fixture: `build(orders, width,
    state_dir)` commits the fixture; the committed dir is memoized per
    (orders files, semantic hash, tag). On a hit even the width-deriving
    driver round-trip is skipped — the width is a pure function of the
    same file set the key pins."""
    import os as _os

    from .buildcache import corpus_key, memo_put

    orders = _cow_orders(spark, sf_dir)
    key = corpus_key(orders, tag)
    if key is not None and key in _COW_STATE_MEMO:
        return _COW_STATE_MEMO[key]
    width = _cow_fixture_width(orders)
    state = _os.path.join(_scratch_dir(f"{tag}_"), "state")
    build(orders, width, state)
    if key is not None:
        memo_put(_COW_STATE_MEMO, key, state)
    return state


def _build_cow_spend_state(spark: SparkSession, sf_dir: str) -> str:
    from pyspark.sql import functions as F

    from ..streaming.partitioned_upsert import merge_batch_into_partitioned_state

    def build(orders: DataFrame, width: int, state: str) -> None:
        cut = F.lit("1996-01-01")
        merge_batch_into_partitioned_state(
            spark,
            state,
            orders.filter(F.col("o_orderdate") < cut).drop("o_orderdate"),
            0,
            range_width=width,
        )
        merge_batch_into_partitioned_state(
            spark,
            state,
            orders.filter(F.col("o_orderdate") >= cut).drop("o_orderdate"),
            1,
            range_width=width,
        )

    return _memoized_state(spark, sf_dir, "cow_zonemap", build)


def cow_manifest_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.partitioned_upsert import partitioned_state_summary

    return partitioned_state_summary(spark, _build_cow_spend_state(spark, sf_dir))


# key range for the lookup: the second fifth of the key domain [0,
# max(o_custkey)], so it is populated at every SF and, with the fixture's
# ~16 buckets, reads a strict subset of them. SQL_COW_KEYRANGE_LOOKUP
# applies the same rule.
def cow_lookup_range(max_key: int) -> tuple[int, int]:
    return max_key // 5, 2 * max_key // 5


def cow_keyrange_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.partitioned_upsert import (
        _latest_manifest,
        read_partitioned_state_keyrange,
    )

    state = _build_cow_spend_state(spark, sf_dir)
    # the fixture holds every customer with orders, so its zone maps'
    # largest key is max(o_custkey), read from the manifest without a scan
    stats = _latest_manifest(spark, state)["stats"].values()
    lo, hi = cow_lookup_range(max(int(s["max_key"]) for s in stats))
    return read_partitioned_state_keyrange(spark, state, lo, hi)


SQL_COW_MANIFEST_SUMMARY = """
WITH st AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
  FROM orders GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(total) AS DOUBLE) AS sum_total,
       CAST(MIN(total) AS DOUBLE) AS min_total,
       CAST(MAX(total) AS DOUBLE) AS max_total
FROM st
"""

SQL_COW_KEYRANGE_LOOKUP = """
SELECT o_custkey AS key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
WHERE o_custkey BETWEEN (SELECT MAX(o_custkey) FROM orders) // 5
                    AND 2 * (SELECT MAX(o_custkey) FROM orders) // 5
GROUP BY 1
"""

QUERIES["cow_manifest_summary"] = cow_manifest_summary
ORACLES["cow_manifest_summary"] = SQL_COW_MANIFEST_SUMMARY
QUERIES["cow_keyrange_lookup"] = cow_keyrange_lookup
ORACLES["cow_keyrange_lookup"] = SQL_COW_KEYRANGE_LOOKUP


# ---------------------------------------------------------------------------
# Merge-on-read entry (r6): the scattered-update answer to the CoW
# boundary. Batch 0 loads per-customer pre-1996 spend copy-on-write;
# batch 1 APPENDS the 1996+ spend as a merge-on-read delta — including
# tombstones for custkey % CDF_TOMBSTONE_MOD == 0 — writing O(|batch|)
# with ZERO bucket rewrites (fs-asserted in tests). The query returns
# the DELTA-ERA READ: read_latest folds base + pending deltas with one
# key-partitioned shuffle (window and groupBy share the exchange), so
# the driver hashes the exact sequenced-fold plan a 100 TB MoR reader
# would run. The oracle recomputes the replace-CDC fold in SQL.
# ---------------------------------------------------------------------------


def _mor_state(spark: SparkSession, sf_dir: str) -> str:
    """Memoized MoR fixture: CoW initial load (batch 0) + the CDC batch
    appended as a PENDING delta (batch 1, never compacted) — shared by
    the fold read and the MoR-aware change feed."""
    from ..streaming.partitioned_upsert import (
        append_delta_batch,
        merge_batch_into_partitioned_state,
    )

    def build(orders: DataFrame, width: int, state: str) -> None:
        b0, b1 = _cdc_batches(orders)
        merge_batch_into_partitioned_state(spark, state, b0, 0, range_width=width)
        append_delta_batch(spark, state, b1, 1, range_width=width)

    return _memoized_state(spark, sf_dir, "mor_fold", build)


def mor_scattered_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.partitioned_upsert import read_latest_partitioned_state

    return read_latest_partitioned_state(spark, _mor_state(spark, sf_dir))


def mor_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR-AWARE change data feed (r7): CDF between the CoW initial load
    and the PENDING-delta commit — the 'to' side is folded base+deltas,
    pruned to pointer-diff + delta-touched buckets (the deletion-vector
    read-through Delta's CDF performs). The logical states equal the CoW
    CDC fixture's, so the oracle is SQL_COW_MERGE_CHANGES verbatim: if
    the delta-era fold or its pruning drops/garbles a change row, the
    hash diverges."""
    from ..streaming.partitioned_upsert import partitioned_state_changes

    return partitioned_state_changes(spark, _mor_state(spark, sf_dir), 0, 1)


SQL_MOR_SCATTERED_FOLD = f"""
WITH v0 AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), up AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
), v1 AS (
  SELECT COALESCE(v0.key, up.key) AS key,
         CASE WHEN v0.key IS NOT NULL AND v0.key % {CDF_TOMBSTONE_MOD} = 0
              THEN up.total
              ELSE COALESCE(v0.total, CAST(0 AS DECIMAL(18,2)))
                   + COALESCE(up.total, CAST(0 AS DECIMAL(18,2))) END AS total,
         CASE WHEN v0.key IS NOT NULL AND v0.key % {CDF_TOMBSTONE_MOD} = 0
              THEN up.n ELSE COALESCE(v0.n, 0) + COALESCE(up.n, 0) END AS n
  FROM v0 FULL OUTER JOIN up ON v0.key = up.key
)
SELECT key,
       CAST(total AS DOUBLE) AS total,
       CAST(n AS BIGINT) AS n_rows
FROM v1 WHERE total IS NOT NULL
"""

QUERIES["mor_scattered_fold"] = mor_scattered_fold
ORACLES["mor_scattered_fold"] = SQL_MOR_SCATTERED_FOLD
QUERIES["mor_changes_feed"] = mor_changes_feed
ORACLES["mor_changes_feed"] = SQL_COW_MERGE_CHANGES


def mor_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL (r13): the MoR fixture read AS OF batch 0 — Delta's
    `VERSION AS OF` — through read_partitioned_state_version: the
    manifest committed by batch 0 is immutable, so the read resolves
    that manifest and sees NEITHER the pending delta nor its tombstones
    (reference parity: the warehouse reload in
    LoadDataWarehouse.ChatterjeeP.R:140-215 rebuilds from scratch to
    see 'the state as of load time'; here it is one manifest lookup).
    At 100 TB this is the audit/backfill read path: cost identical to a
    latest-read of the SAME version (bucket snapshots are shared files,
    zero copies), selection is one manifest-listing metadata op. The
    oracle recomputes batch 0's fold (pre-1996 spend) from the source —
    if time travel leaked any delta-era row, key set or totals diverge."""
    from ..streaming.partitioned_upsert import read_partitioned_state_version

    return read_partitioned_state_version(spark, _mor_state(spark, sf_dir), 0)


SQL_MOR_TIME_TRAVEL = """
SELECT o_custkey AS key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
WHERE o_orderdate < DATE '1996-01-01'
GROUP BY 1
"""

QUERIES["mor_time_travel"] = mor_time_travel
ORACLES["mor_time_travel"] = SQL_MOR_TIME_TRAVEL


# ---------------------------------------------------------------------------
# Streaming MoR ingest (r7, VERDICT ask #5): the merge-on-read write
# path driven END-TO-END by Structured Streaming — readStream over the
# CDC batch files -> foreachBatch delta appends (O(|batch|) each, zero
# bucket rewrites on the hot path) -> one amortized delta compaction ->
# manifest-pruned base read. The CDC mirror of stream_exact_dedup's
# batch-equivalence claim: the streamed table must equal the same
# replace-CDC fold computed in one shot, so the oracle is
# SQL_MOR_SCATTERED_FOLD verbatim (compaction is logically invisible —
# same batch_id under an 'x' commit). Determinism: each logical CDC
# batch is ONE source file (single-file rename publish below), so the
# file stream's oldest-first delivery maps batch content to batch id
# 1:1 and the tombstone/upsert sequencing is exactly the batch run's.
# ---------------------------------------------------------------------------


# fixed epoch for pinned source-file mtimes (2001-09-09T01:46:40Z): any
# constant works — only the ORDER matters to the file stream source
_PUBLISH_MTIME_EPOCH_MS = 1_000_000_000_000


def _publish_single_file_batch(
    spark: SparkSession, df: DataFrame, src_dir: str, name: str, seq: int
) -> None:
    """Write df as exactly ONE parquet file at {src_dir}/{name}.parquet
    (coalesce-to-one staging write + a driver-side rename), so the file
    stream source delivers it as exactly one micro-batch — the property
    the CDC sequencing above relies on. Files must be DELIVERED in call
    order (the source sorts unseen files by modification time), so the
    published file's mtime is PINNED to epoch + seq minutes (ADVICE r7):
    on filesystems with coarse timestamp granularity two back-to-back
    renames can otherwise tie and the tombstone/upsert batch order would
    be unspecified, silently inverting the CDC fold."""
    from ..sources.maintenance import _fs_and_path

    tmp = f"{src_dir}/.staging_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    fs, _, jvm = _fs_and_path(spark, src_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    part = [
        str(s.getPath().getName())
        for s in fs.listStatus(hpath(tmp))
        if str(s.getPath().getName()).endswith(".parquet")
    ]
    if len(part) != 1:
        raise IOError(f"expected one part file in {tmp}, found {part}")
    final = hpath(f"{src_dir}/{name}.parquet")
    if not fs.rename(hpath(f"{tmp}/{part[0]}"), final):
        raise IOError(f"publish failed: {src_dir}/{name}.parquet")
    fs.setTimes(final, _PUBLISH_MTIME_EPOCH_MS + seq * 60_000, -1)
    fs.delete(hpath(tmp), True)


def stream_mor_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql import functions as F

    from ..streaming.partitioned_upsert import (
        read_latest_partitioned_state,
        run_partitioned_mor_ingest,
    )

    def build(orders: DataFrame, width: int, state: str) -> None:
        base = _os.path.dirname(state)
        src = _os.path.join(base, "src")
        b0, b1 = _cdc_batches(orders)
        _publish_single_file_batch(
            spark, b0.withColumn("op", F.lit("upsert")), src, "b0", seq=0
        )
        _publish_single_file_batch(spark, b1, src, "b1", seq=1)
        run_partitioned_mor_ingest(
            spark, src, state, _os.path.join(base, "ckpt"), range_width=width
        )

    state = _memoized_state(spark, sf_dir, "stream_mor", build)
    return read_latest_partitioned_state(spark, state)


QUERIES["stream_mor_ingest"] = stream_mor_ingest
# stream/batch parity IS the check: same fold as the batch MoR entry
ORACLES["stream_mor_ingest"] = SQL_MOR_SCATTERED_FOLD


# ---------------------------------------------------------------------------
# Sequenced-CDC streamed MoR ingest (r9, VERDICT r8 ask #2): tombstones
# under UNCONTROLLED micro-batch boundaries. stream_mor_ingest keeps one
# logical CDC batch per file because the orderless replace contract is
# only deterministic when the producer controls batch boundaries; this
# query drives the SEQUENCED contract instead — every event carries the
# source log's total order (seq), the log is split across SIX files
# consumed FOUR per micro-batch, so a key's tombstone and its
# neighboring upserts land mid-batch in whatever grouping the trigger
# produces — and the fold must still equal the seq-ordered reference
# (batch-grouping invariance, proved at _aggregate_batch and pinned by
# the hypothesis property in tests/test_partitioned_upsert.py).
#
# Event derivation (deterministic, oracle-expressible): every order row
# is an upsert at seq = 2*o_orderkey; each custkey ≡ 0 (mod
# CDF_TOMBSTONE_MOD) with pre-1996 orders gets ONE tombstone at
# seq = 2*T+1 where T = its max pre-1996 orderkey — the tombstone
# interleaves mid-stream (orderkey is uncorrelated with date), so
# survivors are exactly the key's orders with o_orderkey > T from
# EITHER era. At 100 TB this is the steady-state CDC topology with
# deletes: O(|batch|) appends, one amortized compaction, and the seq
# column (a Kafka offset / CDC LSN in production) riding along.
# ---------------------------------------------------------------------------


def stream_mor_tombstone_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..streaming.partitioned_upsert import (
        read_latest_partitioned_state,
        run_partitioned_mor_ingest,
    )

    def build(orders: DataFrame, width: int, state: str) -> None:
        base = _os.path.dirname(state)
        src = _os.path.join(base, "src")
        okey = load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("key"),
            F.col("o_totalprice").alias("amount"),
            "o_orderdate",
            F.col("o_orderkey").alias("okey"),
        )
        ups = okey.select(
            "key",
            "amount",
            F.lit("upsert").alias("op"),
            (F.col("okey") * 2).cast("long").alias("seq"),
        )
        dels = (
            okey.filter(
                (F.col("key") % CDF_TOMBSTONE_MOD == 0)
                & (F.col("o_orderdate") < F.lit("1996-01-01"))
            )
            .groupBy("key")
            .agg(F.max("okey").alias("t"))
            .select(
                "key",
                F.lit(0.0).alias("amount"),
                F.lit("delete").alias("op"),
                (F.col("t") * 2 + 1).cast("long").alias("seq"),
            )
        )
        events = ups.unionByName(dels)
        # six seq-CONSECUTIVE files (the file source's oldest-first
        # delivery must match log order), four per trigger: batch
        # boundaries land mid-log, never aligned with the tombstones
        hi = events.agg(F.max("seq")).first()[0]
        n_files = 6
        span = hi // n_files + 1
        for j in range(n_files):
            part = events.filter(
                (F.col("seq") >= j * span) & (F.col("seq") < (j + 1) * span)
            )
            _publish_single_file_batch(spark, part, src, f"f{j}", seq=j)
        run_partitioned_mor_ingest(
            spark,
            src,
            state,
            _os.path.join(base, "ckpt"),
            range_width=width,
            max_files_per_trigger=4,
            with_seq=True,
        )

    state = _memoized_state(spark, sf_dir, "stream_mor_seq", build)
    return read_latest_partitioned_state(spark, state)


SQL_STREAM_MOR_TOMBSTONE_SEQ = f"""
WITH del AS (
  SELECT o_custkey AS key, MAX(o_orderkey) AS t
  FROM orders
  WHERE o_custkey % {CDF_TOMBSTONE_MOD} = 0
    AND o_orderdate < DATE '1996-01-01'
  GROUP BY 1
)
SELECT o.o_custkey AS key,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders o LEFT JOIN del d ON o.o_custkey = d.key
WHERE d.key IS NULL OR o.o_orderkey > d.t
GROUP BY 1
"""

QUERIES["stream_mor_tombstone_seq"] = stream_mor_tombstone_seq
ORACLES["stream_mor_tombstone_seq"] = SQL_STREAM_MOR_TOMBSTONE_SEQ


# ---------------------------------------------------------------------------
# Table-format SCHEMA EVOLUTION (r11, VERDICT ask #3): ADD COLUMN without
# rewrite, driver-verified end-to-end. Batch 0 loads pre-1996 per-customer
# spend under the legacy single-value schema; batch 1 appends the 1996+
# spend as a MoR delta CARRYING A NEW `fee` COLUMN (merge_schema=True —
# Delta's mergeSchema semantics: the manifest's schema field gains the
# column, version 1 -> 2, and NO existing file is rewritten); then the
# primary column is WIDENED decimal(18,2) -> (28,2) (metadata-only 'x'
# commit, old narrow files read under the wider schema). The read folds
# base + pending delta: keys whose only contributions predate the
# evolution show fee NULL — the honest back-fill a 100 TB table needs
# (a new column must never force a table rewrite). fee derives from
# o_orderkey % 97 — deterministic, integer-exact on both engines.
# ---------------------------------------------------------------------------

EVOLVE_FEE_MOD = 97


def _build_evolved_state(
    spark: SparkSession, sf_dir: str, state: str, width: int, compact: bool
) -> None:
    """The shared evolution fixture: CoW pre-1996 load, MoR 1996+ append
    CARRYING the new fee column (merge_schema), then the metadata-only
    widen. `compact=True` additionally folds the pending delta (the
    summary reader requires a delta-free commit). One function so the
    fold-read and summary fixtures cannot silently diverge in cut date,
    fee derivation, or the widen leg (second r11 review)."""
    from pyspark.sql import functions as F

    from ..streaming.partitioned_upsert import (
        append_delta_batch,
        compact_deltas_into_base,
        merge_batch_into_partitioned_state,
        widen_value_column,
    )

    okey = _cow_orders_with_key(spark, sf_dir)
    cut = F.lit("1996-01-01")
    b0 = okey.filter(F.col("o_orderdate") < cut).select("key", "amount")
    b1 = okey.filter(F.col("o_orderdate") >= cut).select(
        "key",
        "amount",
        (F.col("okey") % EVOLVE_FEE_MOD).cast("long").alias("fee"),
    )
    merge_batch_into_partitioned_state(spark, state, b0, 0, range_width=width)
    append_delta_batch(spark, state, b1, 1, range_width=width, merge_schema=True)
    # plain statement, NOT an assert: under python -O the assert (and
    # the widen call inside it) would be stripped, silently dropping
    # the WIDEN leg from the registered rung
    v = widen_value_column(spark, state, "total", "decimal(28,2)")
    if v != 3:
        raise RuntimeError(f"widen did not land schema v3: got v{v}")
    if compact:
        compact_deltas_into_base(spark, state)


def mor_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.partitioned_upsert import read_latest_partitioned_state

    def build(orders: DataFrame, width: int, state: str) -> None:
        _build_evolved_state(spark, sf_dir, state, width, compact=False)

    state = _memoized_state(spark, sf_dir, "mor_evolve", build)
    return read_latest_partitioned_state(spark, state)


def _cow_orders_with_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..catalog import load_table

    return load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("amount"),
        "o_orderdate",
        F.col("o_orderkey").alias("okey"),
    )


SQL_MOR_SCHEMA_EVOLUTION = f"""
WITH v0 AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), up AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         SUM(CAST(o_orderkey % {EVOLVE_FEE_MOD} AS DECIMAL(18,2))) AS fee,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
)
SELECT COALESCE(v0.key, up.key) AS key,
       CAST(COALESCE(v0.total, CAST(0 AS DECIMAL(18,2)))
            + COALESCE(up.total, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(up.fee AS DOUBLE) AS fee,
       CAST(COALESCE(v0.n, 0) + COALESCE(up.n, 0) AS BIGINT) AS n_rows
FROM v0 FULL OUTER JOIN up ON v0.key = up.key
"""

QUERIES["mor_schema_evolution"] = mor_schema_evolution
ORACLES["mor_schema_evolution"] = SQL_MOR_SCHEMA_EVOLUTION


def mor_schema_evolution_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-ONLY aggregates over the EVOLVED table (r11): the same
    fixture as mor_schema_evolution plus one delta compaction (summary
    requires a delta-free commit), answered from per-bucket zone-map
    stats — including the evolved column's sum_/min_/max_fee keys, with
    buckets untouched since the evolution folding as all-NULL (their
    stats entries predate the column, which IS the honest statement).
    At 100 TB this is COUNT/SUM/MIN/MAX over an evolved column from
    kilobytes of manifest JSON, zero data files read."""
    from ..streaming.partitioned_upsert import partitioned_state_summary

    def build(orders: DataFrame, width: int, state: str) -> None:
        _build_evolved_state(spark, sf_dir, state, width, compact=True)

    state = _memoized_state(spark, sf_dir, "mor_evolve_compacted", build)
    return partitioned_state_summary(spark, state)


SQL_MOR_SCHEMA_EVOLUTION_SUMMARY = f"""
WITH st AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         SUM(CASE WHEN o_orderdate >= DATE '1996-01-01'
                  THEN CAST(o_orderkey % {EVOLVE_FEE_MOD} AS DECIMAL(18,2))
             END) AS fee
  FROM orders GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(total) AS DOUBLE) AS sum_total,
       CAST(MIN(total) AS DOUBLE) AS min_total,
       CAST(MAX(total) AS DOUBLE) AS max_total,
       CAST(SUM(fee) AS DOUBLE) AS sum_fee,
       CAST(MIN(fee) AS DOUBLE) AS min_fee,
       CAST(MAX(fee) AS DOUBLE) AS max_fee
FROM st
"""

QUERIES["mor_schema_evolution_summary"] = mor_schema_evolution_summary
ORACLES["mor_schema_evolution_summary"] = SQL_MOR_SCHEMA_EVOLUTION_SUMMARY


def mor_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN via column mapping (r12, VERDICT r11 ask #4),
    driver-verified end-to-end: the mor_schema_evolution fixture (CoW
    pre-1996 load, evolved MoR 1996+ append carrying `fee`, widen) plus
    TWO metadata-only renames — the primary `total` -> `revenue` and the
    evolved `fee` -> `surcharge`. No data file is rewritten (the
    physical parquet names are immutable; only the read boundary's
    alias changes — at 100 TB a rename costs one manifest commit), the
    producer's batch contract (`amount`, `fee`) is untouched, and the
    fold reads back value-identical under the new names. Reference
    anchor: the reference renames columns across stages
    (LoadXML2DB.ChatterjeeP.R:77,178-183: `prod`->`product_name`,
    XML attr `rID`->`rep_id`)."""
    from ..streaming.partitioned_upsert import (
        read_latest_partitioned_state,
        rename_value_column,
    )

    def build(orders: DataFrame, width: int, state: str) -> None:
        _build_evolved_state(spark, sf_dir, state, width, compact=False)
        # plain statements, NOT asserts (python -O would strip them and
        # silently drop the rename legs from the registered rung)
        v = rename_value_column(spark, state, "total", "revenue")
        if v != 4:
            raise RuntimeError(f"rename total->revenue landed v{v}, want 4")
        v = rename_value_column(spark, state, "fee", "surcharge")
        if v != 5:
            raise RuntimeError(f"rename fee->surcharge landed v{v}, want 5")

    state = _memoized_state(spark, sf_dir, "mor_rename", build)
    return read_latest_partitioned_state(spark, state)


SQL_MOR_RENAME_COLUMN = f"""
WITH v0 AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
), up AS (
  SELECT o_custkey AS key,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
         SUM(CAST(o_orderkey % {EVOLVE_FEE_MOD} AS DECIMAL(18,2))) AS fee,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
)
SELECT COALESCE(v0.key, up.key) AS key,
       CAST(COALESCE(v0.total, CAST(0 AS DECIMAL(18,2)))
            + COALESCE(up.total, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(up.fee AS DOUBLE) AS surcharge,
       CAST(COALESCE(v0.n, 0) + COALESCE(up.n, 0) AS BIGINT) AS n_rows
FROM v0 FULL OUTER JOIN up ON v0.key = up.key
"""

QUERIES["mor_rename_column"] = mor_rename_column
ORACLES["mor_rename_column"] = SQL_MOR_RENAME_COLUMN


def mor_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP COLUMN via column mapping (r12): the evolution fixture, then
    a metadata-only drop of the evolved `fee` column. No file is
    rewritten; the physical column stays in old files but vanishes from
    the read (and the pruned parquet scan never decodes its bytes — a
    drop makes every future scan cheaper the moment the manifest
    lands), its physical name is RETIRED so a later re-ADD can never
    resurrect the stale values, and the primary's totals — including
    every fee-era contribution — are untouched. Loud-failure twins
    (reading the dropped column, dropping the primary, re-add binding a
    fresh physical) are pinned in tests/test_column_mapping.py."""
    from ..streaming.partitioned_upsert import (
        drop_value_column,
        read_latest_partitioned_state,
    )

    def build(orders: DataFrame, width: int, state: str) -> None:
        _build_evolved_state(spark, sf_dir, state, width, compact=False)
        v = drop_value_column(spark, state, "fee")
        if v != 4:
            raise RuntimeError(f"drop fee landed v{v}, want 4")

    state = _memoized_state(spark, sf_dir, "mor_drop", build)
    return read_latest_partitioned_state(spark, state)


SQL_MOR_DROP_COLUMN = """
SELECT o_custkey AS key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY 1
"""

QUERIES["mor_drop_column"] = mor_drop_column
ORACLES["mor_drop_column"] = SQL_MOR_DROP_COLUMN


# ---------------------------------------------------------------------------
# Stateful streaming entry (r9): the applyInPandasWithState surface
# (streaming/stateful.py), driver-verified. Until now the custom-state
# operator was only batch-equivalence tested locally (tests/
# test_streaming.py); this registers it with a hash-exact oracle.
#
# Topology: the events table is republished as THREE single-file batches
# split by event_id mod 3 (pinned mtimes, maxFilesPerTrigger=1 — three
# real micro-batches, so per-key state demonstrably persists ACROSS
# batches, not within one). The quantization to integer cents happens
# JVM-side BEFORE publish (the same floor(value*100+0.5) expression as
# grouped_agg_pandas), so the pandas state function accumulates int64
# only — order- and batch-grouping-invariant, the final emit per key is
# bit-exact against the batch groupBy whatever the trigger did.
#
# Update-mode emits are cumulative per key; foreachBatch appends every
# epoch's emissions stamped with the epoch id, and the read-back keeps
# each key's LAST emission (max epoch) — the full aggregate. At 100 TB
# the identical topology runs unbounded against Kafka with RocksDB
# state: state is partitioned by key across executors, each micro-batch
# touches only keys present in the batch, and the sink MERGEs updates
# instead of replaying epochs.
# ---------------------------------------------------------------------------

STATEFUL_SPLIT_MOD = 3  # three deterministic micro-batches


def last_emit_per_key(emitted: DataFrame) -> DataFrame:
    """Collapse an update-mode emission log (one row per key per epoch it
    appeared in, stamped `_epoch`) to each key's LAST emission — the full
    cumulative aggregate. REPLAY-IDEMPOTENT: a crashed foreachBatch epoch
    re-appends byte-identical rows under the same _epoch (checkpointed
    availableNow recomputes the same batch against the same restored
    state), so row_number ties break among duplicates of the same row and
    the collapsed result is unchanged — pinned in tests/test_streaming.py."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    last = Window.partitionBy("user_id").orderBy(F.col("_epoch").desc())
    return (
        emitted.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_cents")
    )


def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..catalog import load_table
    from ..streaming.stateful import running_user_totals_cents

    base = _scratch_dir("stream_stateful_")
    src = _os.path.join(base, "src")
    out_dir = _os.path.join(base, "result")
    ckpt_dir = _os.path.join(base, "checkpoint")

    cents_rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
            F.col("event_id"),
        )
    )
    for j in range(STATEFUL_SPLIT_MOD):
        _publish_single_file_batch(
            spark,
            cents_rows.filter(F.col("event_id") % STATEFUL_SPLIT_MOD == j).drop(
                "event_id"
            ),
            src,
            f"b{j}",
            seq=j,
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    totals = running_user_totals_cents(stream)

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("_epoch", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(out_dir)

    (
        totals.writeStream.outputMode("update")
        .foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    return last_emit_per_key(spark.read.parquet(out_dir))


SQL_STREAM_STATEFUL_USER_TOTALS = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
"""

QUERIES["stream_stateful_user_totals"] = stream_stateful_user_totals
ORACLES["stream_stateful_user_totals"] = SQL_STREAM_STATEFUL_USER_TOTALS


# ---------------------------------------------------------------------------
# Stateful streaming with STATE EXPIRY (r10): gap sessionization through
# applyInPandasWithState under GroupStateTimeout.ProcessingTimeTimeout
# (streaming/stateful.gap_sessions) — the surface that BOUNDS the state
# store at 100 TB: a key silent past the timeout gets one final
# invocation that emits its open session and REMOVES its state, so the
# store is O(active keys) under churn, never O(keys ever seen). Eviction
# cost/size is measured in examples/stateful_expiry_rung.py; the
# timeout-fires path is pinned in tests/test_streaming.py.
#
# Oracle exactness despite wall-clock timeouts: each key's whole history
# is published in ONE micro-batch (users split by user_id mod 3, pinned
# mtimes, maxFilesPerTrigger=1), and a final FLUSH batch (one marker row
# per user) closes every still-open session through the data path. A
# timeout that happens to fire first emits the SAME session row (the
# key's history was already complete) and makes the flush a no-op, so
# the result is identical whether or not any timeout fired — closed_by
# is dropped and the append log deduplicated on read-back for exactly
# that reason (it is also what makes a replayed append epoch
# idempotent). Same session contract as the batch `session_stats`
# (30-min gap, integer epoch-us math), so the DuckDB oracle is the
# classic lag/boundary/cumsum sessionization.
# ---------------------------------------------------------------------------

SESSION_SPLIT_MOD = 3


def stream_session_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..catalog import load_table
    from ..streaming.stateful import gap_sessions
    from .eventsops import SESSION_GAP_US

    base = _scratch_dir("stream_sessions_")
    src = _os.path.join(base, "src")
    out_dir = _os.path.join(base, "result")
    ckpt_dir = _os.path.join(base, "checkpoint")

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.lit(False).alias("flush"),
        )
    )
    for j in range(SESSION_SPLIT_MOD):
        _publish_single_file_batch(
            spark,
            ev.filter(F.col("user_id") % SESSION_SPLIT_MOD == j),
            src,
            f"b{j}",
            seq=j,
        )
    flushes = ev.select("user_id").distinct().select(
        "user_id",
        F.lit(0).cast("long").alias("ts_us"),
        F.lit(True).alias("flush"),
    )
    _publish_single_file_batch(spark, flushes, src, "b_flush", seq=SESSION_SPLIT_MOD)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("flush", T.BooleanType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = gap_sessions(stream, SESSION_GAP_US, timeout_ms=120_000)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    # ProcessingTimeTimeout makes the engine keep scheduling batches so
    # FUTURE timeouts can fire (FlatMapGroupsWithState's
    # shouldRunAnotherBatch) — trigger(availableNow) therefore never
    # terminates on its own. Drive the drain explicitly: count delivered
    # input rows through the shared listener (recentProgress is
    # ring-capped and the idle batches would evict the data batches'
    # entries) and stop once every published row has been processed —
    # the flush batch's emissions land in that same batch, so the append
    # log is complete. Every file is published before start and read one
    # per trigger, so drain bounds the batches on the file count.
    from ..streaming.progress import ProgressLog, drain

    n_files = SESSION_SPLIT_MOD + 1
    n_expected = ev.count() + flushes.count()
    counter = ProgressLog()
    spark.streams.addListener(counter)
    try:
        q = (
            sessions.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt_dir)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            drain(q, counter, n_expected, n_files, "stream_session_expiry")
        finally:
            q.stop()
        q.awaitTermination()
    finally:
        spark.streams.removeListener(counter)

    return (
        spark.read.parquet(out_dir)
        .select(
            "user_id", "session_seq", "n_events",
            "session_start_us", "session_end_us",
        )
        .distinct()
    )


SQL_STREAM_SESSION_EXPIRY = """
WITH e AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
flagged AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS boundary
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
s AS (
  SELECT user_id, ts_us,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
       CAST(MAX(ts_us) AS BIGINT) AS session_end_us
FROM s
GROUP BY user_id, session_seq
"""

QUERIES["stream_session_expiry"] = stream_session_expiry
ORACLES["stream_session_expiry"] = SQL_STREAM_SESSION_EXPIRY


# ---------------------------------------------------------------------------
# EVENT-TIME session expiry (r10): the deterministic production twin of
# stream_session_expiry. streaming/stateful.event_time_sessions closes a
# key's open session either on the key's own next event past the gap or
# when the WATERMARK passes the session's gap horizon
# (GroupStateTimeout.EventTimeTimeout) — both functions of the data, so
# no wall clock is involved anywhere and trigger(availableNow)
# terminates on its own (the engine schedules exactly one extra batch
# per watermark advance; once the sentinel's advance fires the pending
# timeouts, no further advance happens and the query stops).
#
# Fixture: events sliced into four TIME-range files (pinned mtimes,
# maxFilesPerTrigger=1) — sessions genuinely straddle micro-batches,
# state persists per key across batches — plus one watermark-sentinel
# row (user -1, ts = global max + gap + 60 s) whose advance closes every
# still-open session. Session BOUNDARIES are eviction-invariant under a
# delay-0 watermark with time-ordered slices: a key evicted mid-stream
# (watermark passed its horizon before its next event's slice) would
# have been split by the gap rule anyway, because its next event's ts
# exceeds the watermark that evicted it. Mid-stream eviction DOES
# restart the in-state numbering, so session ids are renumbered on
# read-back (row_number over session_start per key) — which is also why
# closed_by stays out of this query's output (whether a given session
# closed by 'gap' or 'watermark' depends on slice widths; its unit
# semantics are pinned in tests/test_streaming.py instead).
# ---------------------------------------------------------------------------

EVENT_SESSION_SLICES = 4


def stream_session_event_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..catalog import load_table
    from ..streaming.stateful import event_time_sessions
    from .eventsops import SESSION_GAP_US

    base = _scratch_dir("stream_esessions_")
    src = _os.path.join(base, "src")
    out_dir = _os.path.join(base, "result")
    ckpt_dir = _os.path.join(base, "checkpoint")

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(F.col("user_id").cast("long").alias("user_id"), "ts")
    )
    # one bounded driver round-trip sizes the time slices (eager-build
    # class, documented in registry.py) and guards the sentinel's
    # reserved id: user -1 must not exist in the live domain, or its
    # row would merge into that key's state while the read-back filter
    # dropped the sessions the oracle keeps
    lo, hi, min_uid, n_events = ev.agg(
        F.min(F.unix_micros("ts")),
        F.max(F.unix_micros("ts")),
        F.min("user_id"),
        F.count(F.lit(1)),
    ).first()
    if min_uid < 0:
        raise ValueError(
            f"events.user_id contains negative ids (min={min_uid}); the "
            "watermark sentinel reserves user_id=-1 and the read-back "
            "filters user_id>=0 — pick a sentinel outside the live domain"
        )
    span = (hi - lo) // EVENT_SESSION_SLICES + 1
    for j in range(EVENT_SESSION_SLICES):
        us = F.unix_micros(F.col("ts"))
        _publish_single_file_batch(
            spark,
            ev.filter((us >= lo + j * span) & (us < lo + (j + 1) * span)),
            src,
            f"t{j}",
            seq=j,
        )
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.timestamp_micros(F.lit(hi + SESSION_GAP_US + 60_000_000)).alias("ts"),
    )
    _publish_single_file_batch(
        spark, sentinel, src, "t_sentinel", seq=EVENT_SESSION_SLICES
    )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    sessions = event_time_sessions(stream, SESSION_GAP_US)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    # self-termination is an ENGINE property (one data batch per file,
    # at most one extra batch per watermark advance) — bound the drain
    # on that contract so a version/config drift surfaces as a named
    # error, not a wedged driver sweep
    from ..streaming.progress import ProgressLog, drain

    n_files = EVENT_SESSION_SLICES + 1
    counter = ProgressLog()
    spark.streams.addListener(counter)
    try:
        q = (
            sessions.writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            drain(
                q, counter, n_events + 1, n_files, "stream_session_event_expiry",
                until_terminated=True,
            )
        finally:
            q.stop()
    finally:
        spark.streams.removeListener(counter)

    emitted = (
        spark.read.parquet(out_dir)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "n_events", "session_start_us", "session_end_us")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("session_start_us")
    return emitted.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_seq"),
        "n_events",
        "session_start_us",
        "session_end_us",
    )


QUERIES["stream_session_event_expiry"] = stream_session_event_expiry
ORACLES["stream_session_event_expiry"] = SQL_STREAM_SESSION_EXPIRY
