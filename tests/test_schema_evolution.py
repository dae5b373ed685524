"""Table-format schema evolution (r11, VERDICT ask #3).

The CoW/MoR manifest now carries an optional `schema` field
({"version": N, "values": [[state_col, batch_col, type], ...]});
evolution is METADATA-ONLY, the Delta/Iceberg contract:

- ADD COLUMN: merge_schema=True adopts a batch's extra numeric columns;
  no old bucket/delta file is rewritten — parquet read with the extended
  explicit schema back-fills NULL, and the SUM fold skips NULL, so
  pre-evolution contributions honestly read NULL for the new column.
- WIDEN TYPE: widen_value_column records a higher decimal precision in a
  same-batch-id 'x' commit; old narrow files read under the wider schema.
- INCOMPATIBLE writes are loud: unknown columns without merge_schema,
  non-numeric columns, narrowing/rescale, stale-schema writers
  (expected_schema_version mismatch).

Reference anchor: the reference pipeline re-declares its schemas at two
engines (LoadXML2DB.ChatterjeeP.R:29-63 vs
LoadDataWarehouse.ChatterjeeP.R:42-77) — schema drift across pipeline
stages is in-scope behavior. Driver twin: the `mor_schema_evolution`
registered query with its DuckDB oracle.
"""

from __future__ import annotations

import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming import (
    partitioned_upsert as pu,
)
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
    ConcurrentCommitError,
)


def _df(spark, rows, schema="key long, amount double"):
    """Test frames: a `fee` column declared double is CAST to
    decimal(18,2) before the append — adoption REFUSES binary floats
    (r12, ADVICE r11), so every evolving producer here models the
    required discipline: the producer chooses the decimal width and
    owns the rounding."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, schema)
    if "fee" in df.columns and dict(df.dtypes)["fee"] == "double":
        df = df.withColumn("fee", F.col("fee").cast("decimal(18,2)"))
    return df


def _read(spark, state):
    df = pu.read_latest_partitioned_state(spark, state)
    return sorted(tuple(r) for r in df.collect()), df.columns


def test_add_column_backfills_null_without_rewrite(spark, tmp_path):
    """The core contract: batch 1 carries a new `fee` column; batch 0's
    delta file is NOT rewritten (fs-asserted), yet the read shows the
    evolved schema with NULL fee for keys whose only contributions
    predate the evolution."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(
        spark, state, _df(spark, [(1, 10.0), (2, 20.0)]), 0, range_width=16
    )
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.maintenance import (
        _fs_and_path,
    )

    fs, _, jvm = _fs_and_path(spark, state)
    hpath = jvm.org.apache.hadoop.fs.Path
    old_delta = pu._read_manifest(spark, state, "v000000000")["deltas"][0]
    mtime_before = fs.getFileStatus(
        hpath(f"{state}/deltas/{old_delta}")
    ).getModificationTime()

    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(2, 5.0, 1.25), (3, 30.0, 2.5)],
            "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "fee", "n_rows"]
    assert rows == [
        (1, 10.0, None, 1),
        (2, 25.0, 1.25, 2),
        (3, 30.0, 2.5, 1),
    ]
    # metadata-only: the pre-evolution delta dir was never touched
    assert (
        fs.getFileStatus(hpath(f"{state}/deltas/{old_delta}")).getModificationTime()
        == mtime_before
    )
    m = pu._read_manifest(spark, state, "v000000001")
    assert m["schema"]["version"] == 2
    assert m["schema"]["values"] == [
        ["total", "amount", "decimal(18,2)"],
        ["fee", "fee", "decimal(18,2)"],
    ]


def test_unknown_column_without_merge_schema_is_loud(spark, tmp_path):
    """Silently dropping an unknown payload column would lose data —
    without merge_schema the append must refuse and name the column."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
    with pytest.raises(ValueError, match=r"\['fee'\].*merge_schema"):
        pu.append_delta_batch(
            spark,
            state,
            _df(spark, [(2, 2.0, 9.9)], "key long, amount double, fee double"),
            1,
            range_width=16,
        )
    # nothing landed
    rows, _ = _read(spark, state)
    assert rows == [(1, 1.0, 1)]


def test_batch_missing_primary_column_is_loud(spark, tmp_path):
    """The primary's NULL is the tombstone sentinel — a batch WITHOUT the
    primary source column must fail loudly, never fold every key to NULL
    and silently delete it (the legacy fixed-column code failed this at
    analysis; the parametrized fold keeps the loudness)."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
    with pytest.raises(ValueError, match="primary value column 'amount'"):
        pu.append_delta_batch(
            spark,
            state,
            _df(spark, [(2, 9.9)], "key long, fee double"),
            1,
            range_width=16,
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="primary value column 'amount'"):
        pu.merge_batch_into_partitioned_state(
            spark,
            state,
            _df(spark, [(2, 9.9)], "key long, fee double"),
            1,
            range_width=16,
            merge_schema=True,
        )


def test_non_numeric_column_is_incompatible(spark, tmp_path):
    """Value columns are SUMMED per key; a string column has no fold
    semantics and must be rejected even under merge_schema."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
    with pytest.raises(ValueError, match="numeric"):
        pu.append_delta_batch(
            spark,
            state,
            _df(spark, [(2, 2.0, "x")], "key long, amount double, note string"),
            1,
            range_width=16,
            merge_schema=True,
        )


def test_stale_schema_writer_fails_loudly(spark, tmp_path):
    """The stale-writer fence: a writer that declares the schema version
    its code was built against fails loudly once the table evolved past
    it — on BOTH write paths."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
    # a current writer appends fine with the declared version
    pu.append_delta_batch(
        spark, state, _df(spark, [(2, 2.0)]), 1, range_width=16,
        expected_schema_version=1,
    )
    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(3, 3.0, 1.0)], "key long, amount double, fee double"),
        2,
        range_width=16,
        merge_schema=True,
    )
    with pytest.raises(ConcurrentCommitError, match="schema version 2"):
        pu.append_delta_batch(
            spark, state, _df(spark, [(4, 4.0)]), 3, range_width=16,
            expected_schema_version=1,
        )
    pu.compact_deltas_into_base(spark, state)
    with pytest.raises(ConcurrentCommitError, match="schema version 2"):
        pu.merge_batch_into_partitioned_state(
            spark, state, _df(spark, [(4, 4.0)]), 3, range_width=16,
            expected_schema_version=1,
        )


def test_cow_merge_evolves_and_folds_nulls_correctly(spark, tmp_path):
    """The CoW path shares the evolution contract: prev-state rows read
    the new column back-filled NULL; the merge keeps NULL+NULL = NULL
    (honest back-fill) and value+NULL = value (one-sided carry), never
    coercing absent history to 0."""
    state = str(tmp_path / "state")
    pu.merge_batch_into_partitioned_state(
        spark, state, _df(spark, [(1, 10.0), (2, 20.0)]), 0, range_width=16
    )
    pu.merge_batch_into_partitioned_state(
        spark,
        state,
        _df(spark, [(2, 5.0, 1.25), (3, 30.0, 2.5)],
            "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "fee", "n_rows"]
    assert rows == [
        (1, 10.0, None, 1),
        (2, 25.0, 1.25, 2),
        (3, 30.0, 2.5, 1),
    ]
    # a later batch WITHOUT the evolved column: existing fee values carry
    pu.merge_batch_into_partitioned_state(
        spark, state, _df(spark, [(2, 1.0), (1, 1.0)]), 2, range_width=16
    )
    rows, _ = _read(spark, state)
    assert rows == [
        (1, 11.0, None, 2),
        (2, 26.0, 1.25, 3),
        (3, 30.0, 2.5, 1),
    ]


def test_maintenance_carries_schema_and_values(spark, tmp_path):
    """Compaction (delta fold) and bucket compaction both carry the
    schema field AND the evolved column values — a maintenance op that
    read the legacy schema would silently drop the column from the
    rewritten files."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 10.0)]), 0, range_width=16)
    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(1, 2.0, 0.5), (40, 4.0, 1.5)],
            "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    before, _ = _read(spark, state)
    assert pu.compact_deltas_into_base(spark, state) > 0
    newest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert newest["schema"]["version"] == 2
    after, cols = _read(spark, state)
    assert cols == ["key", "total", "fee", "n_rows"]
    assert after == before
    # bucket compaction: rewriting every bucket keeps the evolved column
    assert pu.compact_partitioned_state(spark, state, max_files=0) > 0
    after2, _ = _read(spark, state)
    assert after2 == before
    # summary still answers from stats (primary column) on the evolved table
    s = pu.partitioned_state_summary(spark, state).first()
    assert s["n_keys"] == 2 and s["sum_total"] == 16.0


def test_widen_value_column_is_metadata_only_and_unblocks_overflow(
    spark, tmp_path
):
    """The overflow guard raises at decimal(18,2); widen_value_column
    records decimal(28,2) WITHOUT rewriting files, after which the same
    fold lands — and the old narrow files still read exactly."""
    state = str(tmp_path / "state")
    # exactly double-representable; each batch fits (18,2), the two-batch
    # fold (1e16, 19 digits at scale 2) does not
    big = 5_000_000_000_000_000.0
    pu.append_delta_batch(spark, state, _df(spark, [(1, big)]), 0, range_width=16)
    pu.append_delta_batch(spark, state, _df(spark, [(1, big)]), 1, range_width=16)
    with pytest.raises(Exception, match="overflow.*widen"):
        pu.read_latest_partitioned_state(spark, state).collect()
    v = pu.widen_value_column(spark, state, "total", "decimal(28,2)")
    assert v == 2
    rows, _ = _read(spark, state)
    assert rows == [(1, 2 * big, 2)]
    # widening is idempotent metadata; same precision -> no-op, no commit
    n_before = len(pu._list_manifests(spark, state))
    assert pu.widen_value_column(spark, state, "total", "decimal(28,2)") == 2
    assert len(pu._list_manifests(spark, state)) == n_before
    # narrowing and rescaling are refused
    with pytest.raises(ValueError, match="not a widening"):
        pu.widen_value_column(spark, state, "total", "decimal(18,2)")
    with pytest.raises(ValueError, match="not a widening"):
        pu.widen_value_column(spark, state, "total", "decimal(38,4)")
    with pytest.raises(ValueError, match="unknown value column"):
        pu.widen_value_column(spark, state, "nope", "decimal(38,2)")


def test_one_sided_evolved_overflow_raises_not_nulls(spark, tmp_path):
    """r11 review: the CoW merge's one-sided branch used to narrow the
    delta fold with a plain cast BEFORE the overflow guard, so an
    evolved column overflowing decimal(18,2) for a key with no prior
    value silently became NULL ('no fee recorded'). It must raise the
    curated overflow error instead."""
    state = str(tmp_path / "state")
    pu.merge_batch_into_partitioned_state(
        spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16
    )
    big = 5_000_000_000_000_000.0  # two rows -> 1e16, overflows (18,2)
    with pytest.raises(Exception, match="overflow.*copy-on-write"):
        pu.merge_batch_into_partitioned_state(
            spark,
            state,
            _df(spark, [(2, 1.0, big), (2, 1.0, big)],
                "key long, amount double, fee double"),
            1,
            range_width=16,
            merge_schema=True,
        )


def test_time_travel_reads_each_commits_own_schema(spark, tmp_path):
    """Delta semantics: time travel to a pre-evolution commit reads with
    THAT commit's schema — the column simply doesn't exist yet."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(1, 1.0, 9.0)], "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    v0 = pu.read_partitioned_state_version(spark, state, 0)
    assert v0.columns == ["key", "total", "n_rows"]
    v1 = pu.read_partitioned_state_version(spark, state, 1)
    assert v1.columns == ["key", "total", "fee", "n_rows"]
    assert sorted(tuple(r) for r in v1.collect()) == [(1, 2.0, 9.0, 2)]


def test_change_feed_is_schema_aware_across_the_evolution(spark, tmp_path):
    """CDF between a pre- and post-evolution commit emits the union
    schema with the old side NULL, and an evolved column moving
    NULL -> value alone marks the row updated (null-safe compare)."""
    state = str(tmp_path / "state")
    pu.merge_batch_into_partitioned_state(
        spark, state, _df(spark, [(1, 10.0), (2, 20.0)]), 0, range_width=16
    )
    pu.merge_batch_into_partitioned_state(
        spark,
        state,
        # key 2: fee appears but amount contributes 0 -> total unchanged,
        # n_rows changes; key 5: pure insert with fee
        _df(spark, [(2, 0.0, 1.25), (5, 50.0, 2.5)],
            "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    rows = sorted(
        tuple(r) for r in pu.partitioned_state_changes(spark, state, 0, 1).collect()
    )
    assert rows == [
        (2, "update", 20.0, 20.0, None, 1.25, 1, 2),
        (5, "insert", None, 50.0, None, 2.5, None, 1),
    ]


def test_evolved_columns_get_zone_map_stats_and_summary(spark, tmp_path):
    """Evolved value columns join the zone-map stats (sum_/min_/max_{col}
    manifest keys) so manifest-only aggregates survive evolution; a
    stats entry that PREDATES the column folds as all-NULL — which is
    exactly what that bucket holds. Legacy manifests keep their exact
    key set (no new keys; byte-stability for never-evolved tables)."""
    state = str(tmp_path / "state")
    pu.merge_batch_into_partitioned_state(
        spark, state, _df(spark, [(1, 10.0), (40, 20.0)]), 0, range_width=16
    )
    legacy_stats = pu._read_manifest(spark, state, "v000000000")["stats"]
    assert all(
        set(s) == {"n_keys", "sum_total", "min_total", "max_total",
                   "min_key", "max_key"}
        for s in legacy_stats.values()
    )
    # evolution touches ONLY bucket 0 (key 1); bucket 2 (key 40) keeps
    # its pre-evolution stats entry — the inheritance-as-NULL case
    pu.append_delta_batch(
        spark,
        state,
        _df(spark, [(1, 2.0, 0.5), (3, 30.0, 1.75)],
            "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    assert pu.compact_deltas_into_base(spark, state) > 0
    newest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    touched = newest["stats"]["0"]
    assert touched["sum_fee"] == "2.25" and touched["min_fee"] == "0.50"
    assert "sum_fee" not in newest["stats"]["2"]  # untouched, pre-evolution
    s = pu.partitioned_state_summary(spark, state).first()
    assert s["n_keys"] == 3
    assert s["sum_total"] == 62.0 and s["min_total"] == 12.0
    assert s["sum_fee"] == 2.25 and s["min_fee"] == 0.5 and s["max_fee"] == 1.75
    # an evolved table whose new column never received a value reads the
    # summary NULL for it — matching what a full scan would aggregate
    state2 = str(tmp_path / "state2")
    pu.merge_batch_into_partitioned_state(
        spark, state2, _df(spark, [(1, 1.0)]), 0, range_width=16
    )
    pu.merge_batch_into_partitioned_state(
        spark,
        state2,
        _df(spark, [(2, 2.0, None)], "key long, amount double, fee double"),
        1,
        range_width=16,
        merge_schema=True,
    )
    s2 = pu.partitioned_state_summary(spark, state2).first()
    assert s2["n_keys"] == 2 and s2["sum_fee"] is None


def test_stream_restart_adopts_new_column(spark, tmp_path):
    """The streaming evolution contract: a file-stream's source schema is
    fixed at query start, so ADD COLUMN is a RESTART operation (Delta's
    streaming semantics). Stream 1 ingests legacy batches; stream 2 —
    same checkpoint, extra_value_columns + merge_schema — resumes batch
    ids and its first batch commits the evolved manifest. Keys whose
    contributions all predate the restart read the new column NULL."""
    import os

    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators.streamingq import (
        _publish_single_file_batch,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    f0 = spark.createDataFrame(
        [(1, 10.0, "upsert"), (2, 20.0, "upsert")],
        "key long, amount double, op string",
    )
    _publish_single_file_batch(spark, f0, src, "f0", seq=0)
    r1 = pu.run_partitioned_mor_ingest(
        spark, src, state, ckpt, range_width=16, compact_after=False
    )
    assert [b["batch_id"] for b in r1["batches"]] == [0]

    # the producer publishes the new column at an EXPLICIT decimal —
    # adoption refuses binary floats, so the source files themselves
    # carry the chosen width (the readStream schema then matches the
    # parquet physical type)
    from pyspark.sql import functions as F

    f1 = spark.createDataFrame(
        [(2, 5.0, "upsert", 1.25), (3, 30.0, "upsert", 2.5)],
        "key long, amount double, op string, fee double",
    ).withColumn("fee", F.col("fee").cast("decimal(18,2)"))
    _publish_single_file_batch(spark, f1, src, "f1", seq=1)
    r2 = pu.run_partitioned_mor_ingest(
        spark,
        src,
        state,
        ckpt,
        range_width=16,
        compact_after=True,
        extra_value_columns={"fee": "decimal(18,2)"},
        merge_schema=True,
    )
    assert [b["batch_id"] for b in r2["batches"]] == [1]  # ids resumed
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "fee", "n_rows"]
    assert rows == [
        (1, 10.0, None, 1),
        (2, 25.0, 1.25, 2),
        (3, 30.0, 2.5, 1),
    ]
    newest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert newest["schema"]["version"] == 2
    assert os.path.isdir(f"{state}/buckets")


def test_sequenced_cdc_folds_evolved_columns_with_tombstones(spark, tmp_path):
    """The sequenced contract composes with evolution: a tombstone resets
    EVERY value column; post-delete upserts rebuild both."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(
        spark,
        state,
        spark.createDataFrame(
            [(1, 10.0, "upsert", 1), (2, 20.0, "upsert", 2)],
            "key long, amount double, op string, seq long",
        ),
        0,
        range_width=16,
        writer_id="w",
    )
    from pyspark.sql import functions as F

    pu.append_delta_batch(
        spark,
        state,
        spark.createDataFrame(
            [
                (1, 0.0, "delete", 10, None),
                (1, 7.0, "upsert", 11, 0.75),
                (2, 1.0, "upsert", 12, None),
            ],
            "key long, amount double, op string, seq long, fee double",
        ).withColumn("fee", F.col("fee").cast("decimal(18,2)")),
        1,
        range_width=16,
        writer_id="w",
        merge_schema=True,
    )
    rows, cols = _read(spark, state)
    assert cols == ["key", "total", "fee", "n_rows"]
    assert rows == [(1, 7.0, 0.75, 1), (2, 21.0, None, 2)]

def test_adopting_binary_float_is_refused(spark, tmp_path):
    """r12 (ADVICE r11): the old adoption pinned every new column to
    decimal(18,2), silently quantizing sub-cent doubles at fold time.
    No decimal width preserves binary fractions exactly, so adopting a
    float/double column must RAISE and tell the producer to cast to an
    explicit decimal first — on both write paths, committing nothing."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
    raw = spark.createDataFrame(
        [(2, 2.0, 0.005)], "key long, amount double, fee double"
    )
    with pytest.raises(ValueError, match="explicit decimal"):
        pu.append_delta_batch(
            spark, state, raw, 1, range_width=16, merge_schema=True
        )
    with pytest.raises(ValueError, match="explicit decimal"):
        pu.merge_batch_into_partitioned_state(
            spark, state, raw, 1, range_width=16, merge_schema=True
        )
    rows, cols = _read(spark, state)
    assert rows == [(1, 1.0, 1)] and cols == ["key", "total", "n_rows"]
    # float is refused the same way
    rawf = raw.selectExpr("key", "amount", "cast(fee as float) as fee")
    with pytest.raises(ValueError, match="explicit decimal"):
        pu.append_delta_batch(
            spark, state, rawf, 1, range_width=16, merge_schema=True
        )


def test_adopted_integral_widths_are_exact(spark, tmp_path):
    """Adopted integral columns get their EXACT decimal ranges (long ->
    decimal(20,0)), so a full-range long round-trips into the stored
    state without quantization — pinned through the zone-map stats'
    exact string serialization (the read view casts to double at the
    boundary, so the manifest is where exactness is observable)."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
    big = 9_223_372_036_854_775_806  # LONG_MAX - 1: not double-exact
    pu.append_delta_batch(
        spark,
        state,
        spark.createDataFrame(
            [(1, 2.0, big)], "key long, amount double, fee long"
        ),
        1,
        range_width=16,
        merge_schema=True,
    )
    m = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert m["schema"]["values"] == [
        ["total", "amount", "decimal(18,2)"],
        ["fee", "fee", "decimal(20,0)"],
    ]
    assert pu.compact_deltas_into_base(spark, state) > 0
    newest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert newest["stats"]["0"]["sum_fee"] == str(big)  # bit-exact storage
    # int/short/byte map to their exact ranges too
    state2 = str(tmp_path / "state2")
    pu.append_delta_batch(
        spark,
        state2,
        spark.createDataFrame(
            [(1, 1.0, 7, 3, 2)],
            "key long, amount double, a int, b short, c byte",
        ),
        0,
        range_width=16,
        merge_schema=True,
    )
    m2 = pu._read_manifest(spark, state2, pu._list_manifests(spark, state2)[-1])
    assert m2["schema"]["values"][1:] == [
        ["a", "a", "decimal(10,0)"],
        ["b", "b", "decimal(5,0)"],
        ["c", "c", "decimal(3,0)"],
    ]
    # an explicit producer decimal is adopted verbatim
    state3 = str(tmp_path / "state3")
    pu.append_delta_batch(
        spark,
        state3,
        spark.createDataFrame(
            [(1, 1.0, 7)], "key long, amount double, fee long"
        ).selectExpr("key", "amount", "cast(fee as decimal(7,3)) as fee"),
        0,
        range_width=16,
        merge_schema=True,
    )
    m3 = pu._read_manifest(spark, state3, pu._list_manifests(spark, state3)[-1])
    assert m3["schema"]["values"][1] == ["fee", "fee", "decimal(7,3)"]


def test_per_row_input_overflow_raises_not_drops(spark, tmp_path):
    """r12 (ADVICE r11): the overflow guard only protected the
    SUM-result narrowing; the per-row input cast inside the SUM
    silently NULL'd any single row whose value exceeds the column's
    recorded width under non-ANSI mode — that row's contribution
    vanished without error while n_rows still counted it. It must
    raise the curated, key-naming error on both write paths."""
    too_big = 2.0e16  # exceeds decimal(18,2)'s 16 integer digits
    for path, sub in (
        (pu.append_delta_batch, "mor"),
        (pu.merge_batch_into_partitioned_state, "cow"),
    ):
        state = str(tmp_path / sub)
        with pytest.raises(
            Exception, match=r"per-row batch input of 'amount' for key 9"
        ):
            path(
                spark,
                state,
                _df(spark, [(9, too_big)]),
                0,
                range_width=16,
            )
        assert pu.read_latest_partitioned_state(spark, state) is None
    # a tombstoned row's junk payload must NOT abort the batch: the
    # guard only probes SURVIVING contributions
    state = str(tmp_path / "tomb")
    pu.append_delta_batch(
        spark,
        state,
        spark.createDataFrame(
            [(1, 10.0, "upsert", 2), (1, too_big, "delete", 1)],
            "key long, amount double, op string, seq long",
        ),
        0,
        range_width=16,
        writer_id="w",
    )
    rows, _ = _read(spark, state)
    assert rows == [(1, 10.0, 1)]
    # after an explicit widen, the same row fits — the escape hatch the
    # error message names
    state2 = str(tmp_path / "widened")
    pu.append_delta_batch(spark, state2, _df(spark, [(9, 1.0)]), 0, range_width=16)
    pu.widen_value_column(spark, state2, "total", "decimal(28,2)")
    pu.append_delta_batch(spark, state2, _df(spark, [(9, too_big)]), 1, range_width=16)
    rows2, _ = _read(spark, state2)
    assert rows2 == [(9, 1.0 + too_big, 2)]
