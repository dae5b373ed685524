"""Sequenced-table single-writer fence (r10, VERDICT ask #2).

The sequenced-CDC fold depends on the producer's total order, so a SECOND
independent writer on one table is a protocol error — and before r10 it
was a SILENT one: a foreign writer whose checkpointed ids restart at 0
landed on the replay path (same id already committed), read an empty
basis, passed the max_seq monotone guard, and published a manifest that
dropped every delta the real writer had committed. These tests pin the
two fences that close it (_require_seq_writer_fence): the writer lease
(newest manifest's writer_id) and the replay-bounds tripwire (a same-id
commit must reproduce the recorded max_seq).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming import (
    partitioned_upsert as pu,
)
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
    ConcurrentCommitError,
)


def _seq_df(spark, rows):
    return spark.createDataFrame(rows, "key long, amount double, op string, seq long")


def _fold(spark, state):
    return {
        r["key"]: (r["total"], r["n_rows"])
        for r in pu.read_latest_partitioned_state(spark, state).collect()
    }


def test_foreign_writer_same_id_restart_is_loud_not_silent(spark, tmp_path):
    """THE bug scenario: writer A committed batches 0..2; foreign writer B
    (own checkpoint, ids restart at 0) appends its batch 0. Pre-r10 this
    replayed silently and dropped A's lineage; now the fence raises."""
    state = str(tmp_path / "state")
    for i, lo in enumerate((0, 10, 20)):
        pu.append_delta_batch(
            spark,
            state,
            _seq_df(spark, [(k, 1.0, "upsert", lo + k) for k in range(1, 4)]),
            i,
            range_width=16,
            writer_id="writer-A",
        )
    before = _fold(spark, state)
    with pytest.raises(ConcurrentCommitError, match="owned by writer"):
        pu.append_delta_batch(
            spark,
            state,
            _seq_df(spark, [(9, 9.0, "upsert", 1)]),
            0,
            range_width=16,
            writer_id="writer-B",
        )
    # nothing moved: A's lineage intact after the rejected append
    assert _fold(spark, state) == before


def test_anonymous_seq_append_rejected_on_fenced_table(spark, tmp_path):
    """A fenced table rejects sequenced appends that carry no writer_id —
    the owner declared single-writer; an anonymous producer must not
    slide in under the lease."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(
        spark,
        state,
        _seq_df(spark, [(1, 1.0, "upsert", 1)]),
        0,
        range_width=16,
        writer_id="writer-A",
    )
    with pytest.raises(ConcurrentCommitError, match="anonymous sequenced"):
        pu.append_delta_batch(
            spark,
            state,
            _seq_df(spark, [(2, 2.0, "upsert", 5)]),
            1,
            range_width=16,
        )


def test_replay_bounds_tripwire_on_anonymous_lineage(spark, tmp_path):
    """Even with NO lease recorded (legacy anonymous lineage), a same-id
    commit whose seq bounds differ from the recorded max_seq is a foreign
    batch, not a replay — loud. A true replay (same content) passes."""
    state = str(tmp_path / "state")
    batch = _seq_df(spark, [(1, 1.0, "upsert", 3), (2, 2.0, "upsert", 4)])
    pu.append_delta_batch(spark, state, batch, 0, range_width=16)
    # true replay: same id, same bounds -> legal, idempotent
    pu.append_delta_batch(spark, state, batch, 0, range_width=16)
    assert _fold(spark, state) == {1: (1.0, 1), 2: (2.0, 1)}
    # foreign batch under the same id: different max_seq -> tripwire
    with pytest.raises(ConcurrentCommitError, match="not a replay"):
        pu.append_delta_batch(
            spark,
            state,
            _seq_df(spark, [(1, 1.0, "upsert", 9)]),
            0,
            range_width=16,
        )


def test_seqfree_append_cannot_bypass_the_fence(spark, tmp_path):
    """ADVICE r10: the fence used to run only when the batch carried a
    `seq` column, so a misconfigured foreign writer appending seq-FREE
    batches to a fenced table slid under the lease entirely (and the new
    manifest even inherited the owner's writer_id, laundering the foreign
    rows as the owner's). A fenced table now rejects seq-free appends
    from anyone but the owner; the owner itself stays free to mix in
    seq-free batches (the max_seq mark carries over unchanged)."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(
        spark,
        state,
        _seq_df(spark, [(1, 1.0, "upsert", 1)]),
        0,
        range_width=16,
        writer_id="writer-A",
    )
    plain = spark.createDataFrame([(9, 9.0)], "key long, amount double")
    # anonymous seq-free append: rejected
    with pytest.raises(ConcurrentCommitError, match="seq-FREE"):
        pu.append_delta_batch(spark, state, plain, 1, range_width=16)
    # foreign-writer seq-free append: rejected
    with pytest.raises(ConcurrentCommitError, match="seq-FREE"):
        pu.append_delta_batch(
            spark, state, plain, 1, range_width=16, writer_id="writer-B"
        )
    # nothing landed from either rejected attempt
    assert _fold(spark, state) == {1: (1.0, 1)}
    # the OWNER may append seq-free; lease and max_seq carry over
    pu.append_delta_batch(
        spark, state, plain, 1, range_width=16, writer_id="writer-A"
    )
    assert _fold(spark, state) == {1: (1.0, 1), 9: (9.0, 1)}
    newest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert newest["writer_id"] == "writer-A"
    assert newest["max_seq"] == 1


def test_seqfree_cow_merge_cannot_bypass_the_fence(spark, tmp_path):
    """The CoW merge path shares the seq-free fence: a plain merge (which
    carries no writer_id) onto a fenced table is rejected before any
    bucket moves."""
    state = str(tmp_path / "state")
    pu.append_delta_batch(
        spark,
        state,
        _seq_df(spark, [(1, 1.0, "upsert", 1)]),
        0,
        range_width=16,
        writer_id="writer-A",
    )
    # fold the delta so the merge's delta-free precondition holds; the
    # compaction commit carries the lease
    assert pu.compact_deltas_into_base(spark, state) > 0
    plain = spark.createDataFrame([(9, 9.0)], "key long, amount double")
    with pytest.raises(ConcurrentCommitError, match="seq-FREE"):
        pu.merge_batch_into_partitioned_state(
            spark, state, plain, 1, range_width=16
        )
    assert _fold(spark, state) == {1: (1.0, 1)}


def test_maintenance_inherits_the_lease(spark, tmp_path):
    """Compaction/fold commits reproduce the same logical state, so they
    must CARRY the writer lease (_inherit_max_seq) — a compaction that
    dropped writer_id would silently unfence the table."""
    state = str(tmp_path / "state")
    for i, lo in enumerate((0, 10)):
        pu.append_delta_batch(
            spark,
            state,
            _seq_df(spark, [(k, 1.0, "upsert", lo + k) for k in range(1, 4)]),
            i,
            range_width=16,
            writer_id="writer-A",
        )
    assert pu.compact_deltas_into_base(spark, state) > 0
    newest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert newest["writer_id"] == "writer-A"
    assert newest["max_seq"] == 13
    # the fence still holds through the compacted manifest
    with pytest.raises(ConcurrentCommitError, match="owned by writer"):
        pu.append_delta_batch(
            spark,
            state,
            _seq_df(spark, [(9, 9.0, "upsert", 99)]),
            2,
            range_width=16,
            writer_id="writer-B",
        )


def test_ingest_derives_checkpoint_writer_id_and_fences_second_stream(
    spark, tmp_path
):
    """run_partitioned_mor_ingest(with_seq=True) stamps the lineage with
    the checkpoint-derived writer id; a SECOND sequenced stream with its
    OWN checkpoint (a genuinely different logical writer whose batch ids
    restart at 0) fails loudly instead of clobbering."""
    import os as _os

    rows = [(k, float(k), "upsert", k) for k in range(1, 11)]
    src1 = tmp_path / "src1"
    src1.mkdir()
    for i, row in enumerate(rows):
        p = str(src1 / f"f{i:03d}.parquet")
        _seq_df(spark, [row]).toPandas().to_parquet(p, index=False)
        _os.utime(p, (1_000_000_000 + 60 * i, 1_000_000_000 + 60 * i))
    state = str(tmp_path / "state")
    pu.run_partitioned_mor_ingest(
        spark,
        str(src1),
        state,
        str(tmp_path / "ckpt1"),
        range_width=16,
        max_files_per_trigger=5,
        with_seq=True,
    )
    newest = pu._read_manifest(spark, state, pu._list_manifests(spark, state)[-1])
    assert newest["writer_id"] == pu.seq_writer_id_for_checkpoint(
        str(tmp_path / "ckpt1")
    )
    before = _fold(spark, state)

    # second producer: own source files, own checkpoint -> own writer id,
    # batch ids restarting at 0 — the exact silent-clobber scenario
    src2 = tmp_path / "src2"
    src2.mkdir()
    p = str(src2 / "g000.parquet")
    _seq_df(spark, [(99, 9.0, "upsert", 1)]).toPandas().to_parquet(p, index=False)
    _os.utime(p, (1_000_000_000, 1_000_000_000))
    with pytest.raises(Exception, match="owned by writer"):
        pu.run_partitioned_mor_ingest(
            spark,
            str(src2),
            state,
            str(tmp_path / "ckpt2"),
            range_width=16,
            with_seq=True,
        )
    assert _fold(spark, state) == before  # lineage untouched


def test_checkpoint_writer_id_is_spelling_stable(tmp_path):
    """The same LOCAL checkpoint spelled relatively vs absolutely hashes
    to the same writer id (a replay must not fence itself out); URI
    checkpoints are taken verbatim."""
    import os as _os

    _os.makedirs(tmp_path / "ck", exist_ok=True)
    cwd = _os.getcwd()
    try:
        _os.chdir(tmp_path)
        rel = pu.seq_writer_id_for_checkpoint("ck")
        absd = pu.seq_writer_id_for_checkpoint(str(tmp_path / "ck"))
        assert rel == absd
    finally:
        _os.chdir(cwd)
    assert pu.seq_writer_id_for_checkpoint(
        "hdfs://nn/ck"
    ) == pu.seq_writer_id_for_checkpoint("hdfs://nn/ck/")
    assert pu.seq_writer_id_for_checkpoint(
        "hdfs://nn/ck"
    ) != pu.seq_writer_id_for_checkpoint("hdfs://nn/other")
