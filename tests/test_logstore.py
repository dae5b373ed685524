"""Commit-protocol contract tests for streaming/logstore.py.

The rename store (every table's store) must reject non-successor commits
without publishing, and a writer that crashes between data-file writes
and manifest publish must leave the table replayable to the clean result
(torn attempts are invisible — the manifest IS the commit)."""

from __future__ import annotations

import pytest

import pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert as pu
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
    ConcurrentCommitError,
    HadoopRenameLogStore,
)


@pytest.fixture(autouse=True)
def _small_ranges(monkeypatch):
    monkeypatch.setattr(pu, "RANGE_WIDTH", 16)


@pytest.fixture()
def restore_store():
    """Restore the module default store after any test that swaps it."""
    yield
    pu.set_log_store(HadoopRenameLogStore())


def _payload(batch_id: int, **extra) -> dict:
    return {"batch_id": batch_id, "range_width": 16, "buckets": {}, "stats": {},
            **extra}


def test_rename_store_rejects_nonsuccessor_without_publishing(spark, tmp_path):
    """The optimistic store's commit(expected=...) must reject when ANY
    foreign name appeared since the basis — newer OR replacing — and
    must not publish the rejected manifest."""
    store = HadoopRenameLogStore()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    stale = tuple(store.list_commits(spark, mdir))
    # a foreign writer lands batch 5
    store.commit(spark, mdir, "v000000005", _payload(5), expected=None)
    with pytest.raises(ConcurrentCommitError, match="concurrent writer"):
        store.commit(spark, mdir, "v000000001", _payload(1), expected=stale)
    assert "v000000001" not in store.list_commits(spark, mdir)
    # with the CURRENT listing as basis the same commit succeeds
    store.commit(
        spark, mdir, "v000000001", _payload(1),
        expected=tuple(store.list_commits(spark, mdir)),
    )
    assert "v000000001" in store.list_commits(spark, mdir)


class _CrashOnceStore(HadoopRenameLogStore):
    """Fault injection: the FIRST conditional commit dies before
    publishing — the writer has already written bucket data files and
    renamed them into place, but the manifest (the commit point) never
    lands."""

    def __init__(self):
        self.crashed = False

    def commit(self, spark, manifest_dir, name, payload, expected):
        if expected is not None and not self.crashed:
            self.crashed = True
            raise IOError("injected crash before manifest publish")
        super().commit(spark, manifest_dir, name, payload, expected)


def test_crash_during_commit_is_invisible_and_replayable(
    spark, tmp_path, restore_store
):
    """A merge that crashes between bucket renames and manifest publish
    leaves orphan bucket files but NO commit: readers still see the old
    state, and the replayed batch rewrites the same versions and commits
    cleanly to the exact clean-run result."""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, 10.0), (17, 5.0)], "key long, amount double")
    b1 = spark.createDataFrame([(1, 2.0), (33, 7.0)], "key long, amount double")
    pu.merge_batch_into_partitioned_state(spark, state, b0, 0)

    pu.set_log_store(_CrashOnceStore())
    with pytest.raises(IOError, match="injected crash"):
        pu.merge_batch_into_partitioned_state(spark, state, b1, 1)
    # the crash is invisible: no batch-1 manifest, reads serve batch 0
    assert [pu._batch_id_of(v) for v in pu._list_manifests(spark, state)] == [0]
    got0 = {r["key"]: r["total"]
            for r in pu.read_latest_partitioned_state(spark, state).collect()}
    assert got0 == {1: 10.0, 17: 5.0}
    # replay of batch 1 (store now healthy) replaces the orphan versions
    pu.merge_batch_into_partitioned_state(spark, state, b1, 1)
    got1 = {r["key"]: r["total"]
            for r in pu.read_latest_partitioned_state(spark, state).collect()}
    assert got1 == {1: 12.0, 17: 5.0, 33: 7.0}


@pytest.mark.parametrize("store_cls", [HadoopRenameLogStore], ids=["rename"])
def test_same_name_stale_basis_racer_never_replaces_winner(
    spark, tmp_path, store_cls
):
    """After a commit of `name` completes, a second writer
    committing the SAME name from a basis that predates it must raise
    ConcurrentCommitError and leave the winner's payload untouched —
    while a replayer whose basis INCLUDES the name may idempotently
    re-publish it (the interface contract's replay clause)."""
    store = store_cls()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    stale_basis = tuple(store.list_commits(spark, mdir))
    winner = _payload(1, marker="winner")
    store.commit(spark, mdir, "v000000001", winner, expected=stale_basis)
    with pytest.raises(ConcurrentCommitError):
        store.commit(
            spark, mdir, "v000000001", _payload(1, marker="racer"),
            expected=stale_basis,
        )
    assert store.read_commit(spark, mdir, "v000000001")["marker"] == "winner"
    # replay clause: basis includes the name -> same-name re-publish ok
    replay_basis = tuple(store.list_commits(spark, mdir))
    store.commit(
        spark, mdir, "v000000001", _payload(1, marker="winner"),
        expected=replay_basis,
    )
    assert store.read_commit(spark, mdir, "v000000001")["marker"] == "winner"
