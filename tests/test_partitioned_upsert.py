"""Bucket-partitioned copy-on-write MERGE (streaming/partitioned_upsert):
equivalence with the batch aggregate AND the scale property itself — a
micro-batch rewrites ONLY the buckets its keys land in, verified at the
file-system level, plus replay idempotence, time travel, and retention."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
import pytest

import pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert as pu
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert import (
    bucket_of,
    changed_bucket_ids,
    compact_partitioned_state,
    expire_partitioned_versions,
    merge_batch_into_partitioned_state,
    partitioned_state_changes,
    read_latest_partitioned_state,
    read_partitioned_state_version,
    run_partitioned_incremental_merge,
)


@pytest.fixture(autouse=True)
def _small_ranges(monkeypatch):
    """The sf0.001 custkey domain is ~150 ids; shrink RANGE_WIDTH so the
    corpus spans multiple range buckets (the default 1M-wide ranges are
    sized for production key domains)."""
    monkeypatch.setattr(pu, "RANGE_WIDTH", 16)


def _orders_kv(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"), F.col("o_totalprice").alias("amount")
    )


def _expected(orders):
    return orders.groupBy("key").agg(
        F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def _assert_state_equals(got, expected):
    assert got.count() == expected.count()
    diff = got.alias("g").join(expected.alias("e"), "key", "full_outer").filter(
        F.col("g.total").isNull()
        | F.col("e.total").isNull()
        | (F.col("g.total") != F.col("e.total"))
        | (F.col("g.n_rows") != F.col("e.n_rows"))
    )
    assert diff.count() == 0


def _manifest_files(state_dir: str) -> list[str]:
    """Committed manifest files only (the local FS adds .crc sidecars)."""
    mdir = os.path.join(state_dir, "manifests")
    return sorted(
        f for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")
    )


def _bucket_versions(state_dir: str) -> dict[str, list[str]]:
    """{bucket_name: sorted version dirs on disk} — the rewrite ledger."""
    broot = os.path.join(state_dir, "buckets")
    if not os.path.isdir(broot):
        return {}
    return {
        b: sorted(os.listdir(os.path.join(broot, b)))
        for b in sorted(os.listdir(broot))
    }


def test_partitioned_merge_equals_batch_aggregate(spark, sf_dir, tmp_path):
    """End-to-end through the stream: folded state == one-shot aggregate."""
    orders = _orders_kv(spark, sf_dir)
    src = tmp_path / "batches"
    src.mkdir()
    for i in range(3):
        orders.filter(F.col("key") % 3 == i).toPandas().to_parquet(
            str(src / f"b{i}.parquet"), index=False
        )
    state = str(tmp_path / "state")
    run_partitioned_incremental_merge(spark, str(src), state, str(tmp_path / "ckpt"))
    _assert_state_equals(read_latest_partitioned_state(spark, state), _expected(orders))
    # one manifest per micro-batch (ignore the local FS's .crc sidecars)
    assert len(_manifest_files(state)) == 3


def test_untouched_buckets_are_not_rewritten(spark, sf_dir, tmp_path):
    """THE copy-on-write property: a second batch whose keys land in one
    bucket leaves every other bucket's version dirs untouched on disk."""
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    merge_batch_into_partitioned_state(spark, state, orders, 0)
    before = _bucket_versions(state)
    assert len(before) > 1  # the corpus spreads over multiple buckets

    # pick one real key -> its bucket; batch 1 touches only that bucket
    some_key = orders.select("key").first()["key"]
    target_bucket = (
        spark.range(1)
        .select(bucket_of(F.lit(some_key).cast("long")).alias("b"))
        .first()["b"]
    )
    delta = spark.createDataFrame([(int(some_key), 10.0)], "key long, amount double")
    merge_batch_into_partitioned_state(spark, state, delta, 1)

    after = _bucket_versions(state)
    target = f"b{target_bucket}"
    added = [v for v in after[target] if v not in before[target]]
    assert len(added) == 1 and added[0].startswith("v000000001-")
    for b in after:
        if b != target:
            assert after[b] == before[b], f"untouched bucket {b} was rewritten"

    # and the merged read is still exactly the batch aggregate + the delta
    expected = _expected(orders.unionByName(delta))
    _assert_state_equals(read_latest_partitioned_state(spark, state), expected)


def test_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running a batch (crash-before-checkpoint) merges into the
    strictly-older manifest again: same final state, no double count."""
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    b0 = orders.filter(F.col("key") % 2 == 0)
    b1 = orders.filter(F.col("key") % 2 == 1)
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    merge_batch_into_partitioned_state(spark, state, b1, 1)
    merge_batch_into_partitioned_state(spark, state, b1, 1)  # replay
    _assert_state_equals(read_latest_partitioned_state(spark, state), _expected(orders))


def test_time_travel_reads_each_committed_fold(spark, sf_dir, tmp_path):
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    b0 = orders.filter(F.col("key") % 2 == 0)
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    merge_batch_into_partitioned_state(spark, state, orders.filter(F.col("key") % 2 == 1), 1)
    _assert_state_equals(read_partitioned_state_version(spark, state, 0), _expected(b0))
    _assert_state_equals(read_partitioned_state_version(spark, state, 1), _expected(orders))
    assert read_partitioned_state_version(spark, state, 7) is None


def test_retention_keeps_referenced_bucket_versions(spark, sf_dir, tmp_path):
    """After expiry, the kept manifests' union of bucket references is
    intact (latest state still readable and correct); unreferenced bucket
    versions and old manifests are gone."""
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    for i in range(4):
        merge_batch_into_partitioned_state(
            spark, state, orders.filter(F.col("key") % 4 == i), i
        )
    deleted = expire_partitioned_versions(spark, state, keep=2)
    assert deleted > 0
    manifests = _manifest_files(state)
    assert manifests == ["v000000002.json", "v000000003.json"]
    _assert_state_equals(read_latest_partitioned_state(spark, state), _expected(orders))
    # every surviving bucket version is referenced by a kept manifest
    import json as _json

    live = set()
    for m in manifests:
        with open(os.path.join(state, "manifests", m)) as f:
            doc = _json.load(f)
        for b, v in doc["buckets"].items():
            live.add((f"b{int(b)}", v))
    for b, versions in _bucket_versions(state).items():
        for v in versions:
            assert (b, v) in live


def test_delete_tombstones_replace_semantics(spark, tmp_path):
    """op='delete' discards prior state; same-batch upserts re-insert from
    zero; a fully-emptied bucket loses its manifest pointer; deleting an
    absent key is a no-op. (RANGE_WIDTH=16: keys 1,2 -> bucket 0;
    17,21 -> bucket 1; 40 -> bucket 2.)"""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (17, 5.0), (17, 7.0), (40, 1.0)],
        "key long, amount double",
    )
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    b1 = spark.createDataFrame(
        [
            (2, 0.0, "delete"),  # plain delete; bucket 0 keeps key 1
            (17, 0.0, "delete"),
            (17, 100.0, "upsert"),  # reset-then-reinsert, orderless
            (40, 0.0, "delete"),  # empties bucket 2 entirely
            (99, 0.0, "delete"),  # delete of an absent key: no-op
            (21, 3.0, "upsert"),  # plain insert into existing bucket 1
        ],
        "key long, amount double, op string",
    )
    merge_batch_into_partitioned_state(spark, state, b1, 1)
    got = {
        r["key"]: (r["total"], r["n_rows"])
        for r in read_latest_partitioned_state(spark, state).collect()
    }
    assert got == {1: (10.0, 1), 17: (100.0, 1), 21: (3.0, 1)}
    # bucket 2 (only key 40) was emptied: its pointer left the manifest
    m1 = pu._manifest_for_batch(spark, state, 1)
    assert set(m1["buckets"]) == {"0", "1"}
    # time travel still shows the pre-delete state
    v0 = {
        r["key"]: (r["total"], r["n_rows"])
        for r in read_partitioned_state_version(spark, state, 0).collect()
    }
    assert v0 == {1: (10.0, 1), 2: (20.0, 1), 17: (12.0, 2), 40: (1.0, 1)}


def test_change_feed_classifies_and_prunes(spark, tmp_path):
    """CDF reads ONLY buckets whose pointer changed (asserted on the pure
    helper), classifies insert/update/delete, and drops untouched keys
    that merely live in a rewritten bucket."""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, 10.0), (3, 30.0), (17, 5.0)], "key long, amount double"
    )
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    b1 = spark.createDataFrame(
        [(1, 5.0, "upsert"), (3, 0.0, "delete"), (33, 7.0, "upsert")],
        "key long, amount double, op string",
    )
    merge_batch_into_partitioned_state(spark, state, b1, 1)

    m0 = pu._manifest_for_batch(spark, state, 0)
    m1 = pu._manifest_for_batch(spark, state, 1)
    # bucket 1 (key 17) untouched -> pruned from the feed entirely
    assert changed_bucket_ids(m0, m1) == [0, 2]

    rows = {r["key"]: r for r in partitioned_state_changes(spark, state, 0, 1).collect()}
    assert set(rows) == {1, 3, 33}  # 17 pruned, nothing unchanged leaks
    assert rows[1]["change_type"] == "update"
    assert (rows[1]["old_total"], rows[1]["new_total"]) == (10.0, 15.0)
    assert (rows[1]["old_n_rows"], rows[1]["new_n_rows"]) == (1, 2)
    assert rows[3]["change_type"] == "delete"
    assert (rows[3]["old_total"], rows[3]["new_total"]) == (30.0, None)
    assert rows[33]["change_type"] == "insert"
    assert (rows[33]["old_total"], rows[33]["new_total"]) == (None, 7.0)

    with pytest.raises(ValueError, match="no committed manifest"):
        partitioned_state_changes(spark, state, 0, 7)


def test_compaction_defragments_without_changing_state(spark, sf_dir, tmp_path):
    """OPTIMIZE twin: fragmented buckets (one file per writing task) are
    rewritten to one file each under a same-batch_id 'x' commit; the
    logical state, time travel, replay, and the change feed all carry on
    as if nothing happened — because logically nothing did."""
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    # AQE would coalesce the tiny shuffle to one task (one file per
    # bucket); disable it for the write so buckets really fragment
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        merge_batch_into_partitioned_state(spark, state, orders, 0)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    def files_per_bucket():
        m = pu._latest_manifest(spark, state)
        out = {}
        for b, v in m["buckets"].items():
            d = os.path.join(state, "buckets", f"b{int(b)}", v)
            out[b] = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return out

    before = files_per_bucket()
    assert any(n > 1 for n in before.values()), f"expected fragmentation, got {before}"

    n = compact_partitioned_state(spark, state, max_files=1)
    assert n == sum(1 for c in before.values() if c > 1)
    assert all(c == 1 for c in files_per_bucket().values())
    assert compact_partitioned_state(spark, state, max_files=1) == 0  # idempotent

    expected = _expected(orders)
    _assert_state_equals(read_latest_partitioned_state(spark, state), expected)
    # time travel resolves batch 0 to its compaction (same logical state)
    _assert_state_equals(read_partitioned_state_version(spark, state, 0), expected)
    assert "v000000000x0001.json" in _manifest_files(state)

    # a later merge keys off the compacted pointers and the change feed
    # across (merge 0 .. merge 1) sees exactly the delta key
    some_key = int(orders.select("key").first()["key"])
    delta = spark.createDataFrame([(some_key, 10.0)], "key long, amount double")
    merge_batch_into_partitioned_state(spark, state, delta, 1)
    _assert_state_equals(
        read_latest_partitioned_state(spark, state),
        _expected(orders.unionByName(delta)),
    )
    feed = partitioned_state_changes(spark, state, 0, 1).collect()
    assert [r["key"] for r in feed] == [some_key]
    assert feed[0]["change_type"] == "update"


def test_retention_counts_batches_not_manifests(spark, sf_dir, tmp_path):
    """Compaction x retention interplay: keep=2 means two DISTINCT batch
    ids. The naive last-2-manifests cut would keep [v2, v2x1] (one
    logical batch twice) and drop v1 — after which a replayed batch 2
    finds no strictly-older predecessor and silently merges as an
    initial load. Also: within a kept batch, the plain manifest
    superseded by its compaction is unreachable and must be vacuumed
    along with its fragmented files."""
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    b0 = orders.filter(F.col("key") % 3 == 0)
    b1 = orders.filter(F.col("key") % 3 == 1)
    b2 = orders.filter(F.col("key") % 3 == 2)
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    merge_batch_into_partitioned_state(spark, state, b1, 1)
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        merge_batch_into_partitioned_state(spark, state, b2, 2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert compact_partitioned_state(spark, state, max_files=1) > 0
    assert _manifest_files(state) == [
        "v000000000.json",
        "v000000001.json",
        "v000000002.json",
        "v000000002x0001.json",
    ]

    expire_partitioned_versions(spark, state, keep=2)
    # batches 1 and 2 survive; batch 2's plain commit (superseded by its
    # compaction) is vacuumed, batch 0 ages out
    assert _manifest_files(state) == ["v000000001.json", "v000000002x0001.json"]

    # the replay-idempotence contract holds THROUGH retention+compaction:
    # a replayed batch 2 merges against batch 1's manifest again
    merge_batch_into_partitioned_state(spark, state, b2, 2)
    _assert_state_equals(read_latest_partitioned_state(spark, state), _expected(orders))


def test_range_width_drift_fails_loudly(spark, sf_dir, tmp_path, monkeypatch):
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    merge_batch_into_partitioned_state(spark, state, orders, 0)
    monkeypatch.setattr(pu, "RANGE_WIDTH", 32)
    try:
        pu.merge_batch_into_partitioned_state(spark, state, orders, 1)
    except ValueError as e:
        assert "range_width" in str(e)
    else:
        raise AssertionError("re-ranging must not be implicit")


def test_zone_map_stats_follow_pointer_semantics(spark, tmp_path):
    """Each commit's manifest carries per-bucket zone-map stats that are
    exact vs a direct recompute; untouched buckets INHERIT their stats
    entry (pointer semantics), tombstone-emptied buckets drop it, and a
    compaction carries the whole dict byte-for-byte (same logical
    state). (RANGE_WIDTH=16: keys 1,2 -> bucket 0; 17 -> 1; 40 -> 2.)"""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, 10.0), (2, 20.5), (17, 5.0), (17, 7.0), (40, 1.0)],
        "key long, amount double",
    )
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    m0 = pu._manifest_for_batch(spark, state, 0)
    assert m0["stats"]["0"] == {
        "n_keys": 2,
        "sum_total": "30.50",
        "min_total": "10.00",
        "max_total": "20.50",
        "min_key": 1,
        "max_key": 2,
    }
    assert m0["stats"]["1"]["sum_total"] == "12.00"  # 5.0+7.0 folded per key
    b1 = spark.createDataFrame(
        [(17, 1.0, "upsert"), (40, 0.0, "delete")],
        "key long, amount double, op string",
    )
    merge_batch_into_partitioned_state(spark, state, b1, 1)
    m1 = pu._manifest_for_batch(spark, state, 1)
    assert m1["stats"]["0"] == m0["stats"]["0"]  # untouched: inherited
    assert m1["stats"]["1"]["sum_total"] == "13.00"  # rewritten: recomputed
    assert "2" not in m1["stats"] and "2" not in m1["buckets"]  # emptied
    compacted = compact_partitioned_state(spark, state, max_files=0)
    assert compacted >= 1
    mx = pu._latest_manifest(spark, state)
    assert mx.get("compaction_seq") and mx["stats"] == m1["stats"]


def test_manifest_summary_is_metadata_only(spark, sf_dir, tmp_path):
    """partitioned_state_summary answers COUNT/SUM/MIN/MAX from manifest
    stats alone: it stays exact after every data file is DELETED — the
    kilobytes-vs-table-scan property that makes it viable at 100 TB."""
    import shutil

    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    merge_batch_into_partitioned_state(spark, state, orders, 0)
    truth = (
        read_latest_partitioned_state(spark, state)
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-exact fold then one cast: the summary's contract
            # (a plain double sum drifts in the last ulp — the manifest
            # path is the MORE exact of the two)
            F.sum(F.col("total").cast("decimal(18,2)")).cast("double").alias("s"),
            F.min("total").alias("lo"),
            F.max("total").alias("hi"),
        )
        .first()
    )
    shutil.rmtree(os.path.join(state, "buckets"))  # no data files remain
    got = pu.partitioned_state_summary(spark, state).first()
    assert got["n_keys"] == truth["n"]
    assert got["sum_total"] == truth["s"]
    assert (got["min_total"], got["max_total"]) == (truth["lo"], truth["hi"])


def test_summary_scan_fallback_for_pre_stats_manifests(spark, sf_dir, tmp_path):
    """A manifest written before zone-map stats existed (simulated by
    stripping the dict) still summarizes correctly via the per-bucket
    scan fallback — cost tracks the un-statted fraction, not the table."""
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    merge_batch_into_partitioned_state(spark, state, orders, 0)
    with_stats = pu.partitioned_state_summary(spark, state).first()
    m = pu._manifest_for_batch(spark, state, 0)
    m.pop("stats")
    pu._write_manifest(spark, state, m)
    assert pu.partitioned_state_summary(spark, state).first() == with_stats


def test_keyrange_scan_prunes_by_arithmetic_and_zone_map(spark, tmp_path):
    """read_partitioned_state_keyrange reads only buckets whose id range
    AND zone map overlap the predicate: results equal a full-state
    filter, the pure pruning set is assertable, and a sparse bucket whose
    id overlaps but whose actual keys don't is skipped."""
    state = str(tmp_path / "state")
    # bucket 0: keys 1,2; bucket 1: only key 30 (sparse: ids 16..31);
    # bucket 3: key 50
    b0 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (30, 5.0), (50, 9.0)], "key long, amount double"
    )
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    m = pu._manifest_for_batch(spark, state, 0)
    # [17, 25] overlaps bucket 1's ID RANGE but not its zone map (only
    # key 30 lives there) -> pruned to nothing by stats
    assert pu.keyrange_bucket_ids(m, 17, 25) == []
    assert pu.keyrange_bucket_ids(m, 17, 30) == ["1"]
    assert pu.keyrange_bucket_ids(m, 0, 64) == ["0", "1", "3"]
    # stats-less buckets are conservatively kept
    m_nostats = {k: v for k, v in m.items() if k != "stats"}
    assert pu.keyrange_bucket_ids(m_nostats, 17, 25) == ["1"]

    got = {r["key"]: r["total"] for r in
           pu.read_partitioned_state_keyrange(spark, state, 2, 30).collect()}
    assert got == {2: 20.0, 30: 5.0}
    assert pu.read_partitioned_state_keyrange(spark, state, 17, 25).count() == 0
    with pytest.raises(ValueError, match="empty key range"):
        pu.read_partitioned_state_keyrange(spark, state, 5, 4)


def test_explicit_range_width_parameter(spark, tmp_path):
    """A state table created with an explicit range_width keeps it in the
    manifest; later merges must repeat it (module-default drift fails
    loudly) and every reader picks the width up from the manifest."""
    state = str(tmp_path / "state")
    rows = spark.createDataFrame([(3, 1.0), (9, 2.0)], "key long, amount double")
    merge_batch_into_partitioned_state(spark, state, rows, 0, range_width=4)
    m0 = pu._manifest_for_batch(spark, state, 0)
    assert m0["range_width"] == 4 and set(m0["buckets"]) == {"0", "2"}
    with pytest.raises(ValueError, match="range_width"):
        # module default (monkeypatched 16) != the table's declared 4
        merge_batch_into_partitioned_state(spark, state, rows, 1)
    merge_batch_into_partitioned_state(spark, state, rows, 1, range_width=4)
    got = {r["key"]: r["total"] for r in
           pu.read_partitioned_state_keyrange(spark, state, 8, 9).collect()}
    assert got == {9: 4.0}


# --- randomized CDC-sequence property (hypothesis) --------------------------

from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batch_strategy = st.lists(
    st.tuples(
        st.integers(0, 40),  # keys span buckets 0-2 at RANGE_WIDTH=16
        st.integers(-10**6, 10**6),  # cents: exact under double->DECIMAL(18,2)
        st.sampled_from(["upsert", "upsert", "upsert", "delete"]),
    ),
    min_size=0,
    max_size=12,
)


def _model_apply(state: dict, batch: list) -> None:
    """Reference fold of one batch under the module's replace-CDC contract:
    any tombstone for a key discards prior state; the key's same-batch
    upserts (orderless) then fold from zero."""
    per_key: dict = {}
    for key, cents, op in batch:
        tot, n, reset = per_key.get(key, (Decimal(0), 0, False))
        if op == "delete":
            per_key[key] = (tot, n, True)
        else:
            per_key[key] = (tot + Decimal(cents) / 100, n + 1, reset)
    for key, (dt, dn, reset) in per_key.items():
        if reset:
            if dn:
                state[key] = (dt, dn)
            else:
                state.pop(key, None)
        else:
            ot, on = state.get(key, (Decimal(0), 0))
            state[key] = (ot + dt, on + dn)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(_batch_strategy, min_size=1, max_size=3),
    n_append=st.integers(0, 3),
)
def test_cow_merge_matches_reference_fold(spark, tmp_path_factory, batches, n_append):
    """Any CDC sequence of upserts+tombstones folds to the reference model
    — state, manifest zone-map stats, metadata-only summary, keyrange
    scan, and a replay of the final batch all agree with it. The last
    min(n_append, len) batches go through the merge-on-read APPEND path
    (folded by delta compaction before the full-surface asserts): both
    write paths must realize the identical replace-CDC contract."""
    state_dir = str(tmp_path_factory.mktemp("cow_prop") / "state")
    split = len(batches) - min(n_append, len(batches))
    model: dict = {}
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(
            [(k, c / 100, op) for k, c, op in batch] or [(0, 0.0, "delete")],
            "key long, amount double, op string",
        )
        if i < split:
            merge_batch_into_partitioned_state(spark, state_dir, df, i)
        else:
            pu.append_delta_batch(spark, state_dir, df, i)
        _model_apply(model, batch if batch else [(0, 0, "delete")])
    if split < len(batches):
        # the fold READ path must already agree before any compaction
        st_df = read_latest_partitioned_state(spark, state_dir)
        got = {} if st_df is None else {
            r["key"]: (Decimal(str(r["total"])), r["n_rows"])
            for r in st_df.collect()
        }
        assert got == {k: (t, n) for k, (t, n) in model.items()}
        pu.compact_deltas_into_base(spark, state_dir)

    def assert_state_is_model():
        st_df = read_latest_partitioned_state(spark, state_dir)
        got = (
            {}  # None-when-empty read contract (all keys tombstoned)
            if st_df is None
            else {
                r["key"]: (Decimal(str(r["total"])), r["n_rows"])
                for r in st_df.collect()
            }
        )
        want = {k: (t, n) for k, (t, n) in model.items()}
        assert got == want

        m = pu._latest_manifest(spark, state_dir)
        # zone-map stats == recompute from the model, bucket by bucket
        by_bucket: dict = {}
        for k, (t, n) in model.items():
            by_bucket.setdefault(k // pu.RANGE_WIDTH, []).append((k, t))
        assert set(m["stats"]) == {str(b) for b in by_bucket}
        for b, kts in by_bucket.items():
            s = m["stats"][str(b)]
            assert s["n_keys"] == len(kts)
            assert Decimal(s["sum_total"]) == sum(t for _, t in kts)
            assert s["min_key"] == min(k for k, _ in kts)
            assert s["max_key"] == max(k for k, _ in kts)
            assert Decimal(s["min_total"]) == min(t for _, t in kts)
            assert Decimal(s["max_total"]) == max(t for _, t in kts)

        srow = pu.partitioned_state_summary(spark, state_dir).first()
        assert srow["n_keys"] == len(model)
        if model:
            assert srow["sum_total"] == float(sum(t for t, _ in model.values()))
            assert srow["min_total"] == float(min(t for t, _ in model.values()))
            assert srow["max_total"] == float(max(t for t, _ in model.values()))

        kr = {
            r["key"] for r in
            pu.read_partitioned_state_keyrange(spark, state_dir, 8, 23).collect()
        }
        assert kr == {k for k in model if 8 <= k <= 23}

    assert_state_is_model()
    # replay of the final batch — through its ORIGINAL write path — is
    # idempotent at every surface above (an append's replayed plain
    # manifest is superseded by the compaction's x-commit)
    last = len(batches) - 1
    df = spark.createDataFrame(
        [(k, c / 100, op) for k, c, op in batches[last]] or [(0, 0.0, "delete")],
        "key long, amount double, op string",
    )
    if last < split:
        merge_batch_into_partitioned_state(spark, state_dir, df, last)
    else:
        pu.append_delta_batch(spark, state_dir, df, last)
    assert_state_is_model()


def test_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    """A foreign manifest landing between the merge's basis snapshot and
    its commit aborts the commit loudly (ConcurrentCommitError) instead
    of silently dropping the foreign deltas from the lineage; the
    aborted batch's manifest is never written, so its staged bucket
    versions stay invisible to every reader."""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, 1.0), (17, 2.0)], "key long, amount double")
    merge_batch_into_partitioned_state(spark, state, b0, 0)

    real = pu._bucket_stats

    def hostile(spark_, dirs, width, values=None):
        out = real(spark_, dirs, width, values)
        # a second writer commits while our merge is in flight (after the
        # basis snapshot, before the manifest commit)
        pu._write_manifest(
            spark,
            state,
            {"batch_id": 5, "range_width": 16, "buckets": {}, "stats": {}},
        )
        return out

    monkeypatch.setattr(pu, "_bucket_stats", hostile)
    b1 = spark.createDataFrame([(1, 10.0)], "key long, amount double")
    with pytest.raises(pu.ConcurrentCommitError, match="concurrent writer"):
        merge_batch_into_partitioned_state(spark, state, b1, 1)
    monkeypatch.setattr(pu, "_bucket_stats", real)
    # batch 1 never committed: no v1 manifest, reads see the foreign commit
    assert "v000000001.json" not in _manifest_files(state)
    assert read_latest_partitioned_state(spark, state) is None  # empty v5
    # and the replayed batch 1 (now with a quiet table) commits cleanly
    merge_batch_into_partitioned_state(spark, state, b1, 6)
    got = {r["key"]: r["total"]
           for r in read_latest_partitioned_state(spark, state).collect()}
    assert got == {1: 10.0}


def test_mor_append_and_fold(spark, tmp_path):
    """Merge-on-read: appends commit O(|batch|) delta files; the read
    path folds base + deltas in batch order (tombstone resets honored
    ACROSS batches); base-only readers refuse while deltas are pending;
    compaction folds the deltas in and restores them; a replayed append
    after compaction is superseded harmlessly."""
    state = str(tmp_path / "state")
    load = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (17, 5.0), (40, 1.0)], "key long, amount double"
    )
    merge_batch_into_partitioned_state(spark, state, load, 0)
    b1 = spark.createDataFrame(
        [(1, 5.0, "upsert"), (17, 0.0, "delete"), (99, 7.0, "upsert")],
        "key long, amount double, op string",
    )
    pu.append_delta_batch(spark, state, b1, 1)
    b2 = spark.createDataFrame(
        [(17, 100.0, "upsert"), (2, 0.0, "delete")],
        "key long, amount double, op string",
    )
    pu.append_delta_batch(spark, state, b2, 2)

    want = {1: (15.0, 2), 17: (100.0, 1), 40: (1.0, 1), 99: (7.0, 1)}
    got = {r["key"]: (r["total"], r["n_rows"])
           for r in read_latest_partitioned_state(spark, state).collect()}
    assert got == want
    # time travel INTO the delta era folds only the deltas committed then
    v1 = {r["key"]: (r["total"], r["n_rows"])
          for r in read_partitioned_state_version(spark, state, 1).collect()}
    assert v1 == {1: (15.0, 2), 2: (20.0, 1), 40: (1.0, 1), 99: (7.0, 1)}

    for fn, args in [
        (pu.partitioned_state_summary, (spark, state)),
        (pu.read_partitioned_state_keyrange, (spark, state, 0, 50)),
        (compact_partitioned_state, (spark, state)),
        # and a CoW merge on top of pending deltas would misorder them
        (merge_batch_into_partitioned_state, (spark, state, b2, 3)),
    ]:
        with pytest.raises(ValueError, match="compact_deltas_into_base"):
            fn(*args)

    # the CDF is MoR-AWARE (r7): delta-era commits are first-class sides.
    # v1 -> v2: only delta v2's buckets are candidates (no pointer moved);
    # 17 was deleted in v1 and reinserted by v2's reset -> 'insert',
    # 2 tombstoned -> 'delete', key 1 (bucket 0, untouched by v2) silent
    cdf12 = {r["key"]: r for r in
             pu.partitioned_state_changes(spark, state, 1, 2).collect()}
    assert {(k, v["change_type"]) for k, v in cdf12.items()} == {
        (2, "delete"), (17, "insert")}
    assert (cdf12[17]["old_total"], cdf12[17]["new_total"]) == (None, 100.0)
    # v0 -> v1 spans the CoW/MoR boundary: base-only 'from', folded 'to'
    cdf01 = {r["key"]: r["change_type"] for r in
             pu.partitioned_state_changes(spark, state, 0, 1).collect()}
    assert cdf01 == {1: "update", 17: "delete", 99: "insert"}

    assert pu.compact_deltas_into_base(spark, state) == 3  # buckets 0,1,6
    got2 = {r["key"]: (r["total"], r["n_rows"])
            for r in read_latest_partitioned_state(spark, state).collect()}
    assert got2 == want
    s = pu.partitioned_state_summary(spark, state).first()
    assert (s["n_keys"], s["sum_total"]) == (4, 123.0)
    assert {r["key"] for r in
            pu.read_partitioned_state_keyrange(spark, state, 90, 100).collect()} == {99}

    pu.append_delta_batch(spark, state, b2, 2)  # crash-replay after compaction
    got3 = {r["key"]: (r["total"], r["n_rows"])
            for r in read_latest_partitioned_state(spark, state).collect()}
    assert got3 == want
    # retention vacuums delta files once no kept manifest references them:
    # kept v1 still folds deltas/v000000001 (so it survives); the replayed
    # plain v2 manifest is superseded by the compaction, so deltas/v...2
    # is unreferenced and goes (age 0: single-writer scenario — the
    # default horizon would hold the replay's never-referenced fresh
    # attempt dir back as possible in-flight debris)
    assert expire_partitioned_versions(spark, state, keep=2, debris_min_age_ms=0) > 0
    remaining = sorted(
        e.name for e in os.scandir(os.path.join(state, "deltas")) if e.is_dir()
    )
    assert len(remaining) == 1 and remaining[0].startswith("v000000001-")
    got4 = {r["key"]: (r["total"], r["n_rows"])
            for r in read_latest_partitioned_state(spark, state).collect()}
    assert got4 == want


def test_mor_append_writes_no_buckets(spark, sf_dir, tmp_path):
    """THE merge-on-read property, at the file-system level: a scattered
    delta batch (every key range touched) appends ONE delta dir and
    rewrites ZERO bucket versions — the write-amplification answer to
    the CoW boundary the module measured (scattered batch over range
    buckets rewrote more than the table)."""
    orders = _orders_kv(spark, sf_dir)
    state = str(tmp_path / "state")
    merge_batch_into_partitioned_state(spark, state, orders, 0)
    before = _bucket_versions(state)
    # every key +1 cent: a delta touching EVERY bucket
    scattered = orders.groupBy("key").agg(F.lit(0.01).alias("amount"))
    pu.append_delta_batch(spark, state, scattered, 1)
    assert _bucket_versions(state) == before  # zero bucket rewrites
    deltas = os.listdir(os.path.join(state, "deltas"))
    assert len(deltas) == 1 and deltas[0].startswith("v000000001-")
    # and the fold still equals the batch-aggregate truth
    expected = _expected(orders.unionByName(
        orders.groupBy("key").agg(F.lit(0.01).alias("amount"))))
    _assert_state_equals(read_latest_partitioned_state(spark, state), expected)


def test_double_digit_compaction_seq_keeps_commit_order(spark, tmp_path):
    """Commit names must sort lexicographically in commit order PAST nine
    compactions of one batch: unpadded 'x10' would sort before 'x2' and
    time travel / retention would resurrect a stale commit. The seq is
    zero-padded; eleven successive commits of batch 0 stay ordered."""
    state = str(tmp_path / "state")
    for seq in range(1, 12):
        pu._write_manifest(
            spark,
            state,
            {
                "batch_id": 0,
                "compaction_seq": seq,
                "range_width": 16,
                "buckets": {},
                "stats": {},
                "marker": seq,
            },
        )
    names = pu._list_manifests(spark, state)
    assert len(names) == 11 and names == sorted(names)
    assert pu._latest_manifest(spark, state)["marker"] == 11
    assert pu._batch_id_of(names[-1]) == 0


def test_append_only_table_guards_not_vacuous(spark, tmp_path):
    """An append-only table (batch 0 through the MoR path, base empty)
    must REFUSE manifest-only reads, not answer n_keys=0: the pending-
    deltas guard runs before the empty-bucket early return."""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, 1.0), (40, 2.0)], "key long, amount double")
    pu.append_delta_batch(spark, state, b0, 0)
    with pytest.raises(ValueError, match="compact_deltas_into_base"):
        pu.partitioned_state_summary(spark, state)
    with pytest.raises(ValueError, match="compact_deltas_into_base"):
        pu.read_partitioned_state_keyrange(spark, state, 0, 50)
    # the fold read works, and compaction bootstraps the base from nothing
    got = {r["key"]: r["total"]
           for r in read_latest_partitioned_state(spark, state).collect()}
    assert got == {1: 1.0, 40: 2.0}
    assert pu.compact_deltas_into_base(spark, state) == 2
    assert pu.partitioned_state_summary(spark, state).first()["n_keys"] == 2


def test_overflow_raises_instead_of_tombstoning(spark, tmp_path):
    """ADVICE r6: NULL doubles as the tombstone sentinel, and a
    DECIMAL(18,2)-narrowing overflow also yields NULL (under non-ANSI
    casts), so an overflowing key would silently vanish as if deleted.
    The fold must DISTINGUISH: n_rows > 0 with a NULL-after-cast total is
    overflow — a loud, key-naming error on every path (CoW merge, MoR
    append of a self-overflowing batch, MoR read fold), never a delete.
    9e15 is exact in double and fits (18,2); 2x it does not."""
    big = 9.0e15  # < 2^53, < 10^16 - 0.01: exact and representable
    # CoW: two merges whose running total overflows the state width
    state = str(tmp_path / "cow")
    merge_batch_into_partitioned_state(
        spark, state, spark.createDataFrame([(1, big)], "key long, amount double"), 0
    )
    with pytest.raises(Exception, match="overflow in copy-on-write merge for key 1"):
        merge_batch_into_partitioned_state(
            spark, state, spark.createDataFrame([(1, big)], "key long, amount double"), 1
        )
    # the failed merge must NOT have committed: state still batch 0's
    got = {r["key"]: r["total"] for r in read_latest_partitioned_state(spark, state).collect()}
    assert got == {1: big}

    # MoR: a single batch whose own per-key fold overflows the delta width
    state2 = str(tmp_path / "mor_append")
    with pytest.raises(Exception, match="overflow in merge-on-read delta append for key 7"):
        pu.append_delta_batch(
            spark,
            state2,
            spark.createDataFrame([(7, big), (7, big)], "key long, amount double"),
            0,
        )

    # MoR: two individually-fine deltas whose READ fold overflows
    state3 = str(tmp_path / "mor_fold")
    pu.append_delta_batch(
        spark, state3, spark.createDataFrame([(3, big)], "key long, amount double"), 0
    )
    pu.append_delta_batch(
        spark, state3, spark.createDataFrame([(3, big)], "key long, amount double"), 1
    )
    with pytest.raises(Exception, match="overflow in merge-on-read fold for key 3"):
        read_latest_partitioned_state(spark, state3).collect()

    # a REAL tombstone (the sentinel the guard must not break): still works
    state4 = str(tmp_path / "tomb")
    merge_batch_into_partitioned_state(
        spark, state4, spark.createDataFrame([(1, big)], "key long, amount double"), 0
    )
    merge_batch_into_partitioned_state(
        spark,
        state4,
        spark.createDataFrame([(1, 0.0, "delete")], "key long, amount double, op string"),
        1,
    )
    emptied = read_latest_partitioned_state(spark, state4)
    assert emptied is None or emptied.count() == 0


def test_fresh_bucket_overflow_raises(spark, tmp_path):
    """ADVICE r11: the FRESH-BUCKET CoW branch (no prior state for any
    touched bucket) narrowed the widened batch fold with a plain
    .cast(typ) and filtered tombstones on the PRE-cast wide value — an
    overflowing within-batch fold silently wrote a NULL primary into
    the bucket parquet (read back as a fake tombstone, and
    _bucket_stats serialized its sum as the string 'None'). It must
    route through the same overflow-vs-tombstone guard as the merge
    branch: loud, key-naming, nothing committed."""
    big = 9.0e15  # exact in double; 2x overflows decimal(18,2)
    state = str(tmp_path / "cow_fresh")
    with pytest.raises(
        Exception,
        match=r"overflow in copy-on-write merge \(fresh buckets\) for key 5",
    ):
        merge_batch_into_partitioned_state(
            spark,
            state,
            spark.createDataFrame(
                [(5, big), (5, big)], "key long, amount double"
            ),
            0,
        )
    assert read_latest_partitioned_state(spark, state) is None

    # the guard must NOT break the real fresh-bucket tombstone path: a
    # key whose batch rows are all deletes folds to a NULL primary and
    # is filtered (no state row), while upsert keys commit normally
    state2 = str(tmp_path / "cow_fresh_tomb")
    b0 = spark.createDataFrame(
        [(1, 10.0, "upsert"), (2, 0.0, "delete")],
        "key long, amount double, op string",
    )
    merge_batch_into_partitioned_state(spark, state2, b0, 0)
    got = {
        r["key"]: r["total"]
        for r in read_latest_partitioned_state(spark, state2).collect()
    }
    assert got == {1: 10.0}


def test_null_op_fails_loudly(spark, tmp_path):
    """ADVICE r6: a NULL op is neither an upsert (op != 'delete' is NULL)
    nor a tombstone, so the row's amount would silently vanish from
    d_total/d_rows/d_reset on BOTH write paths. It must raise, naming the
    key, on CoW merge and MoR append alike."""
    bad = spark.createDataFrame(
        [(1, 10.0, "upsert"), (2, 20.0, None)], "key long, amount double, op string"
    )
    with pytest.raises(Exception, match="NULL op in CDC batch for key 2"):
        merge_batch_into_partitioned_state(spark, str(tmp_path / "cow"), bad, 0)
    with pytest.raises(Exception, match="NULL op in CDC batch for key 2"):
        pu.append_delta_batch(spark, str(tmp_path / "mor"), bad, 0)
    # and neither path committed anything
    assert read_latest_partitioned_state(spark, str(tmp_path / "cow")) is None
    assert read_latest_partitioned_state(spark, str(tmp_path / "mor")) is None


def test_compaction_seq_overflow_is_loud(spark, tmp_path):
    """ADVICE r6: 'x10000' sorts lexicographically BEFORE 'x9999', so a
    seq past the 4-digit pad would silently roll readers/retention/replay
    back to an older commit. _write_manifest refuses it."""
    with pytest.raises(ValueError, match="compaction_seq 10000 exceeds"):
        pu._write_manifest(
            spark,
            str(tmp_path / "state"),
            {"batch_id": 0, "compaction_seq": 10000, "range_width": 16,
             "buckets": {}, "stats": {}},
        )
    # 9999 itself is still fine (the last representable seq)
    pu._write_manifest(
        spark,
        str(tmp_path / "state"),
        {"batch_id": 0, "compaction_seq": 9999, "range_width": 16,
         "buckets": {}, "stats": {}},
    )
    assert pu._list_manifests(spark, str(tmp_path / "state")) == ["v000000000x9999"]


def test_next_compaction_seq_survives_retention():
    """The next 'x' seq is max+1, not count+1: after retention vacuums
    superseded compactions (keeping only the newest per batch), a count
    would regress below the survivor and the new maintenance commit's
    name would sort BEFORE it — a silently ineffective commit."""
    # full history: count+1 == max+1, both fine
    assert pu._next_compaction_seq(["v000000001", "v000000001x0001"], 1) == 2
    # post-vacuum: only the newest compaction survives; count+1 would be
    # 2 ('x0002' < 'x0005' -> silent no-op), max+1 is right
    assert pu._next_compaction_seq(["v000000001x0005"], 1) == 6
    # other batches' compactions don't leak into this batch's seq
    assert pu._next_compaction_seq(["v000000000x0003", "v000000001"], 1) == 1


def test_stream_cow_ingest_with_ops(spark, tmp_path):
    """run_partitioned_incremental_merge(with_ops=True): the CoW stream
    carries replace-CDC batches - a tombstone in a later file discards
    the key's earlier state through the same foreachBatch merge body."""
    src = tmp_path / "batches"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.0, "upsert"), (17, 5.0, "upsert")],
        "key long, amount double, op string",
    ).toPandas().to_parquet(str(src / "b0.parquet"), index=False)
    spark.createDataFrame(
        [(17, 0.0, "delete"), (33, 7.0, "upsert")],
        "key long, amount double, op string",
    ).toPandas().to_parquet(str(src / "b1.parquet"), index=False)
    state = str(tmp_path / "state")
    run_partitioned_incremental_merge(
        spark, str(src), state, str(tmp_path / "ckpt"), with_ops=True
    )
    got = {r["key"]: (r["total"], r["n_rows"])
           for r in read_latest_partitioned_state(spark, state).collect()}
    assert got == {1: (10.0, 1), 33: (7.0, 1)}


def test_compaction_bin_packs_to_target_file_size(spark, tmp_path):
    """r7 OPTIMIZE contract: compaction targets `target_file_bytes` per
    output file instead of one (potentially multi-GB) file per bucket.
    With a target sized to ~half a bucket's bytes, each compacted bucket
    lands ~2 files; with the default 128 MB target, tiny buckets land
    exactly 1 (the old behavior, preserved at test scale). State is
    value-identical either way."""
    state = str(tmp_path / "state")
    rows = [(k, float(k)) for k in range(0, 48)]  # buckets 0,1,2 (width 16)
    b0 = spark.createDataFrame(rows, "key long, amount double")
    # fragment the buckets: with AQE off, every shuffle task writes its
    # own file into each bucket dir (same trick as the defrag test)
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        merge_batch_into_partitioned_state(spark, state, b0, 0)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    before = {r["key"]: (r["total"], r["n_rows"])
              for r in read_latest_partitioned_state(spark, state).collect()}

    # measure a bucket's bytes to pick a ~half-bucket target
    m = pu._latest_manifest(spark, state)
    fs, _, jvm = __import__(
        "pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.maintenance",
        fromlist=["_fs_and_path"],
    )._fs_and_path(spark, state)
    bsizes = {
        int(b): pu._bucket_data_files(fs, jvm, f"{state}/buckets/b{int(b)}/{v}")
        for b, v in m["buckets"].items()
    }
    assert all(n >= 1 for n, _ in bsizes.values())
    total_rows = sum(1 for _ in rows)
    total_bytes = sum(nb for _, nb in bsizes.values())
    # target ~ bytes of half a bucket's rows -> ceil(16/8)=2 files/bucket
    target = int(total_bytes / total_rows * 8)
    n = compact_partitioned_state(spark, state, target_file_bytes=target)
    assert n == 3
    m2 = pu._latest_manifest(spark, state)
    counts = {
        int(b): pu._bucket_data_files(fs, jvm, f"{state}/buckets/b{int(b)}/{v}")[0]
        for b, v in m2["buckets"].items()
    }
    assert counts == {0: 2, 1: 2, 2: 2}
    after = {r["key"]: (r["total"], r["n_rows"])
             for r in read_latest_partitioned_state(spark, state).collect()}
    assert after == before

    # default target: tiny buckets compact to exactly one file each
    merge_batch_into_partitioned_state(
        spark, state, spark.createDataFrame([(1, 1.0)], "key long, amount double"), 2
    )
    assert compact_partitioned_state(spark, state) >= 1
    m3 = pu._latest_manifest(spark, state)
    for b, v in m3["buckets"].items():
        assert pu._bucket_data_files(fs, jvm, f"{state}/buckets/b{int(b)}/{v}")[0] == 1


def test_same_batch_id_loser_never_touches_winner_files(spark, tmp_path):
    """The r7 clobber window, closed structurally (r8): version dirs are
    attempt-unique and no write path deletes or replaces an existing
    dir, so a concurrent writer racing the SAME batch id whose basis
    predates the winner's commit (1) raises ConcurrentCommitError at the
    manifest, and (2) leaves every one of the winner's committed data
    files byte-identical — its own attempt dirs are unreferenced debris
    that the next retention pass reclaims."""
    import hashlib

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ConcurrentCommitError,
        HadoopRenameLogStore,
    )

    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, 10.0), (17, 5.0)], "key long, amount double")
    winner = spark.createDataFrame([(1, 2.0)], "key long, amount double")
    loser = spark.createDataFrame(
        [(1, 999.0), (33, 777.0)], "key long, amount double"
    )
    merge_batch_into_partitioned_state(spark, state, b0, 0)
    stale = tuple(pu._list_manifests(spark, state))  # loser's basis view
    merge_batch_into_partitioned_state(spark, state, winner, 1)

    def inventory() -> dict[str, str]:
        out = {}
        for root, _dirs, files in os.walk(os.path.join(state, "buckets")):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.sha256(fh.read()).hexdigest()
        return out

    committed = inventory()

    class StaleBasisStore(HadoopRenameLogStore):
        """The loser's world: its listing reads (basis + snapshot) see
        the pre-winner state, but the COMMIT runs against the real
        store — the exact interleaving the old delete-then-rename
        replay path turned into a clobber."""

        def list_commits(self, spark_, manifest_dir):
            return list(stale)

        def commit(self, spark_, manifest_dir, name, payload, expected):
            HadoopRenameLogStore().commit(
                spark_, manifest_dir, name, payload, expected
            )

    prev_store = pu.set_log_store(StaleBasisStore())
    try:
        with pytest.raises(ConcurrentCommitError):
            merge_batch_into_partitioned_state(spark, state, loser, 1)
    finally:
        pu.set_log_store(prev_store)

    after = inventory()
    for p, h in committed.items():
        assert after.get(p) == h, f"winner file {p} was touched by the loser"
    got = {r["key"]: r["total"]
           for r in read_latest_partitioned_state(spark, state).collect()}
    assert got == {1: 12.0, 17: 5.0}

    # the loser's attempt dirs are debris only retention reclaims
    orphans = set(after) - set(committed)
    assert orphans, "loser should have staged attempt dirs before losing"
    # default horizon PROTECTS fresh never-referenced dirs — under
    # multi-writer appends they may be an IN-FLIGHT attempt (the Delta
    # VACUUM in-flight guard); committed state must be untouched either way
    expire_partitioned_versions(spark, state, keep=2)
    assert orphans <= set(inventory()), "fresh debris reclaimed inside horizon"
    # a context that provably has no concurrent writer reclaims immediately
    expire_partitioned_versions(spark, state, keep=2, debris_min_age_ms=0)
    final = inventory()
    assert set(final) == set(committed)
    assert {r["key"]: r["total"]
            for r in read_latest_partitioned_state(spark, state).collect()} == got


# --- sequenced CDC (r9): tombstones under uncontrolled batch boundaries ----


def _seq_events_df(spark, rows):
    return spark.createDataFrame(rows, "key long, amount double, op string, seq long")


_SEQ_EVENTS = [
    # key 1: upsert, upsert, tombstone, re-insert — the earlier upserts
    # must NOT survive when the tombstone shares their batch
    (1, 10.0, "upsert", 1),
    (1, 3.0, "upsert", 2),
    (1, None, "delete", 3),
    (1, 5.0, "upsert", 7),
    # key 2: upserts only
    (2, 1.0, "upsert", 4),
    (2, 2.0, "upsert", 5),
    # key 3: ends deleted
    (3, 9.0, "upsert", 6),
    (3, None, "delete", 8),
    # key 4: delete of an absent key, then insert
    (4, None, "delete", 9),
    (4, 4.0, "upsert", 10),
]
_SEQ_EXPECT = {1: (5.0, 1), 2: (3.0, 2), 4: (4.0, 1)}


def test_sequenced_cdc_same_batch_tombstone_upsert_split_invariance(
    spark, tmp_path
):
    """The r8 gap (VERDICT ask #2): with a `seq` column the fold is
    BATCH-GROUPING-INVARIANT — a key's tombstone and its earlier upsert
    landing in the SAME batch folds identically to any split that puts a
    batch boundary between them, on both write paths. Without seq, the
    orderless replace contract folds the earlier upsert back in (the
    documented non-invariance this contract exists to fix)."""
    df = _seq_events_df(spark, _SEQ_EVENTS)

    def fold(groupings, name, path):
        sd = str(tmp_path / name)
        for i, part in enumerate(groupings):
            if path == "mor":
                pu.append_delta_batch(spark, sd, part, i, range_width=16)
            else:
                merge_batch_into_partitioned_state(
                    spark, sd, part, i, range_width=16
                )
        return {
            r["key"]: (r["total"], r["n_rows"])
            for r in read_latest_partitioned_state(spark, sd).collect()
        }

    by_seq = lambda lo, hi: df.filter((F.col("seq") > lo) & (F.col("seq") <= hi))
    groupings = {
        "one": [df],
        # boundary right ON the tombstone of key 1 (upserts before it)
        "split3": [by_seq(0, 3), by_seq(3, 10)],
        "split2": [by_seq(0, 2), by_seq(2, 10)],
        "fine": [by_seq(i, i + 2) for i in range(0, 10, 2)],
    }
    for path in ("mor", "cow"):
        results = {
            n: fold(g, f"{path}_{n}", path) for n, g in groupings.items()
        }
        for n, got in results.items():
            assert got == _SEQ_EXPECT, (path, n, got)

    # contrast: WITHOUT seq the same one-batch fold resurrects key 1's
    # pre-tombstone upserts (orderless replace contract) — grouping matters
    noseq = fold([df.drop("seq")], "noseq_one", "mor")
    assert noseq[1] == (18.0, 3)  # 10 + 3 + 5 folded from zero


def test_sequenced_cdc_streamed_multi_file_batches(spark, tmp_path):
    """The deployment shape end-to-end: a seq-ordered CDC log written as
    MANY small files, consumed 3 files per micro-batch (uncontrolled
    boundaries — a tombstone and its key's surrounding upserts land
    mid-batch), folds to the same state as the one-shot reference."""
    import os as _os

    src = tmp_path / "src"
    src.mkdir()
    # one file per event — the finest (worst) split; files written in LOG
    # order (sorted by seq) with pinned mtimes so the file source's
    # oldest-first delivery matches the log, as a real CDC drop would
    for i, row in enumerate(sorted(_SEQ_EVENTS, key=lambda r: r[3])):
        p = str(src / f"e{i:03d}.parquet")
        _seq_events_df(spark, [row]).toPandas().to_parquet(p, index=False)
        _os.utime(p, (1_000_000_000 + 60 * i, 1_000_000_000 + 60 * i))
    state = str(tmp_path / "state")
    report = pu.run_partitioned_mor_ingest(
        spark,
        str(src),
        state,
        str(tmp_path / "ckpt"),
        range_width=16,
        max_files_per_trigger=3,
        with_seq=True,
    )
    assert len(report["batches"]) == 4  # ceil(10 files / 3)
    got = {
        r["key"]: (r["total"], r["n_rows"])
        for r in read_latest_partitioned_state(spark, state).collect()
    }
    assert got == _SEQ_EXPECT
    # the high-water mark survived the drain AND the compaction commit
    versions = pu._list_manifests(spark, state)
    assert pu._read_manifest(spark, state, versions[-1])["max_seq"] == 10


def test_sequenced_cdc_order_violation_and_null_seq_raise(spark, tmp_path):
    """Cross-batch seq regressions and NULL seq are LOUD errors, never a
    silent mis-sequenced fold."""
    df = _seq_events_df(spark, _SEQ_EVENTS)
    sd = str(tmp_path / "state")
    pu.append_delta_batch(
        spark, sd, df.filter(F.col("seq") > 4), 0, range_width=16
    )
    with pytest.raises(ValueError, match="order violation"):
        pu.append_delta_batch(
            spark, sd, df.filter(F.col("seq") <= 4), 1, range_width=16
        )
    with pytest.raises(Exception, match="NULL or non-integer seq"):
        pu.append_delta_batch(
            spark,
            str(tmp_path / "state2"),
            _seq_events_df(spark, [(1, 1.0, "upsert", None)]),
            0,
            range_width=16,
        )
    # a seq that fails the long cast is exactly as orderless as NULL —
    # before r9 it slipped past the guard (nulls were counted on the RAW
    # column while the bounds used the cast) and committed with no order
    # guard and no max_seq high-water mark
    with pytest.raises(Exception, match="NULL or non-integer seq"):
        pu.append_delta_batch(
            spark,
            str(tmp_path / "state3"),
            spark.createDataFrame(
                [(1, 1.0, "upsert", "a1")],
                "key long, amount double, op string, seq string",
            ),
            0,
            range_width=16,
        )
    # a FRACTIONAL numeric seq survives the long cast by truncation
    # (double 7.5 -> 7), so before r10 it silently shifted the bounds and
    # the max_seq high-water mark instead of raising (ADVICE r9)
    with pytest.raises(Exception, match="non-integer seq"):
        pu.append_delta_batch(
            spark,
            str(tmp_path / "state4"),
            spark.createDataFrame(
                [(1, 1.0, "upsert", 7.5)],
                "key long, amount double, op string, seq double",
            ),
            0,
            range_width=16,
        )
    # replay of the SAME batch re-appends the same span legally (its
    # basis is strictly older than its own crashed/committed manifest)
    pu.append_delta_batch(
        spark, sd, df.filter(F.col("seq") > 4), 0, range_width=16
    )
    got = {
        r["key"]: r["total"]
        for r in read_latest_partitioned_state(spark, sd).collect()
    }
    assert got == {1: 5.0, 2: 2.0, 4: 4.0}


def _model_apply_seq(state: dict, batch: list) -> None:
    """Reference fold of one SEQUENCED batch: per key, the last tombstone
    (max seq) discards prior state and same-batch upserts with seq <= it;
    later upserts fold. Ties resolve delete-first."""
    per_key: dict = {}
    for key, cents, op, seq in batch:
        rows = per_key.setdefault(key, [])
        rows.append((seq, op, cents))
    for key, rows in per_key.items():
        dels = [s for s, op, _ in rows if op == "delete"]
        last_del = max(dels) if dels else None
        live = [
            (s, c)
            for s, op, c in rows
            if op != "delete" and (last_del is None or s > last_del)
        ]
        dt = sum((Decimal(c) / 100 for _, c in live), Decimal(0))
        dn = len(live)
        if last_del is not None:
            if dn:
                state[key] = (dt, dn)
            else:
                state.pop(key, None)
        else:
            ot, on = state.get(key, (Decimal(0), 0))
            state[key] = (ot + dt, on + dn)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_sequenced_cdc_randomized_grouping_invariance(
    spark, tmp_path_factory, data
):
    """Property: ANY split of one seq-ordered upsert+tombstone log into
    consecutive batches folds to the reference state — the invariance
    claim, randomized over logs and boundaries (including boundaries
    that isolate or co-locate tombstone/upsert pairs arbitrarily)."""
    n = data.draw(st.integers(4, 16))
    events = [
        (
            data.draw(st.integers(0, 6)),
            data.draw(st.integers(-(10**4), 10**4)),
            data.draw(st.sampled_from(["upsert", "upsert", "delete"])),
            seq,
        )
        for seq, _ in enumerate(range(n), start=1)
    ]
    cut_points = sorted(
        data.draw(
            st.sets(st.integers(1, n - 1), min_size=0, max_size=4)
        )
    )
    bounds = [0] + cut_points + [n]
    batches = [
        events[lo:hi] for lo, hi in zip(bounds, bounds[1:]) if lo < hi
    ]

    model: dict = {}
    sd = str(tmp_path_factory.mktemp("seq_prop") / "state")
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(
            [(k, c / 100, op, s) for k, c, op, s in batch],
            "key long, amount double, op string, seq long",
        )
        pu.append_delta_batch(spark, sd, df, i, range_width=16)
        _model_apply_seq(model, batch)
    pu.compact_deltas_into_base(spark, sd)
    st_df = read_latest_partitioned_state(spark, sd)
    got = (
        {}
        if st_df is None
        else {
            r["key"]: (Decimal(str(r["total"])), r["n_rows"])
            for r in st_df.collect()
        }
    )
    want = {k: (t, n_) for k, (t, n_) in model.items() if n_}
    assert got == want


def test_delta_compaction_loses_cleanly_to_concurrent_append(spark, tmp_path):
    """Maintenance-vs-ingest conflict: a delta compaction whose basis
    snapshot predates a concurrent delta append must LOSE at the commit
    point (ConcurrentCommitError) and leave the table untouched — the
    racing append's data stays folded in, the pending-delta list stays
    authoritative — and a retry against the fresh listing succeeds.
    This is the standing topology of a production table: an OPTIMIZE
    loop racing the ingest stream, resolved by the same optimistic
    commit as every writer (Delta resolves compaction/append races the
    same way: compaction is a semantically-neutral rewrite that must
    re-base)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ConcurrentCommitError,
        HadoopRenameLogStore,
    )

    state = str(tmp_path / "state")
    merge_batch_into_partitioned_state(
        spark,
        state,
        spark.createDataFrame([(1, 10.0), (17, 5.0)], "key long, amount double"),
        0,
        range_width=16,
    )
    pu.append_delta_batch(
        spark,
        state,
        spark.createDataFrame([(1, 2.0), (33, 7.0)], "key long, amount double"),
        1,
        range_width=16,
    )
    stale = pu._list_manifests(spark, state)  # compaction's stale world
    # the concurrent append lands AFTER the compaction snapshotted
    pu.append_delta_batch(
        spark,
        state,
        spark.createDataFrame([(17, 1.0)], "key long, amount double"),
        2,
        range_width=16,
    )

    class StaleListingStore(HadoopRenameLogStore):
        """The compaction's world: its listing reads see the pre-append
        state, but the COMMIT runs against the real store (fresh
        listing), so the basis comparison happens at truth."""

        def list_commits(self, spark_, manifest_dir):
            return list(stale)

        def commit(self, spark_, manifest_dir, name, payload, expected):
            HadoopRenameLogStore().commit(
                spark_, manifest_dir, name, payload, expected
            )

    want = {1: (12.0, 2), 17: (6.0, 2), 33: (7.0, 1)}

    prev_store = pu.set_log_store(StaleListingStore())
    try:
        with pytest.raises(ConcurrentCommitError):
            pu.compact_deltas_into_base(spark, state)
    finally:
        pu.set_log_store(prev_store)
    # loser left the table untouched: batch 2's fold intact, deltas pending
    got = {
        r["key"]: (r["total"], r["n_rows"])
        for r in read_latest_partitioned_state(spark, state).collect()
    }
    assert got == want
    latest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert latest["batch_id"] == 2 and latest["deltas"]

    # re-based retry folds EVERYTHING and empties the pending list
    assert pu.compact_deltas_into_base(spark, state) > 0
    latest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert latest["deltas"] == []
    got = {
        r["key"]: (r["total"], r["n_rows"])
        for r in read_latest_partitioned_state(spark, state).collect()
    }
    assert got == want
