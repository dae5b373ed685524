"""Commit-protocol contract tests for streaming/logstore.py.

The rename store (every table's store) must reject non-successor commits
without publishing, and a writer that crashes between data-file writes
and manifest publish must leave the table replayable to the clean result
(torn attempts are invisible — the manifest IS the commit). The arbiter
store, reachable only through `partitioned_upsert.set_log_store`, must
admit EXACTLY ONE winner per basis under racing writers and self-heal a
commit that won its CAS but crashed before the finalize rename."""

from __future__ import annotations

import threading

import pytest

import pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.partitioned_upsert as pu
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
    ArbiterLogStore,
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


@pytest.mark.parametrize("store_cls", [ArbiterLogStore], ids=["arbiter"])
def test_conditional_put_matrix_one_winner_per_basis(spark, tmp_path, store_cls):
    """The conditional-put store admits EXACTLY ONE winner per basis
    under racing writers; losers raise ConcurrentCommitError and publish
    nothing."""
    store = store_cls()
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    basis = tuple(store.list_commits(spark, mdir))

    outcomes: list[tuple[int, str]] = []
    lock = threading.Lock()

    def writer(k: int) -> None:
        try:
            store.commit(spark, mdir, f"v00000000{k}", _payload(k), expected=basis)
            with lock:
                outcomes.append((k, "ok"))
        except ConcurrentCommitError:
            with lock:
                outcomes.append((k, "rejected"))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    winners = [k for k, o in outcomes if o == "ok"]
    assert len(winners) == 1, outcomes
    assert store.list_commits(spark, mdir) == sorted(
        ["v000000000", f"v00000000{winners[0]}"]
    )


def test_arbiter_store_crash_between_cas_and_finalize_self_heals(spark, tmp_path):
    """Two-phase commit recovery: a writer that wins the arbiter CAS but
    dies before the finalize rename leaves a staged file + a pending
    arbiter record. The NEXT reader's list_commits completes the commit
    (Delta S3DynamoDBLogStore's read-side recovery) — the name appears,
    the payload is readable, and the record flips to complete."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ArbiterLogStore,
        CommitArbiter,
    )

    arbiter = CommitArbiter()

    class CrashOnFinalize(ArbiterLogStore):
        def __init__(self):
            super().__init__(arbiter)
            self.crashed = False

        def _finalize(self, spark, manifest_dir, table, name, staged_name, **kw):
            if not self.crashed and name == "v000000001":
                self.crashed = True
                raise IOError("injected crash before finalize")
            super()._finalize(spark, manifest_dir, table, name, staged_name, **kw)

    writer = CrashOnFinalize()
    mdir = str(tmp_path / "state" / "manifests")
    writer.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    basis = tuple(writer.list_commits(spark, mdir))
    with pytest.raises(IOError, match="injected crash"):
        writer.commit(spark, mdir, "v000000001", _payload(1), expected=basis)
    # the CAS won: the arbiter holds a pending record, the FS shows nothing
    table = [k for k in arbiter._tables][0]
    assert arbiter.records(table)["v000000001"]  # staged pointer pending
    # a FRESH reader over the same arbiter self-heals on list
    reader = ArbiterLogStore(arbiter)
    assert reader.list_commits(spark, mdir) == ["v000000000", "v000000001"]
    assert reader.read_commit(spark, mdir, "v000000001")["batch_id"] == 1
    assert arbiter.records(table)["v000000001"] is None  # now complete
    # and a successor commit built on the healed listing succeeds
    reader.commit(
        spark, mdir, "v000000002", _payload(2),
        expected=tuple(reader.list_commits(spark, mdir)),
    )
    assert "v000000002" in reader.list_commits(spark, mdir)


def test_arbiter_outage_fails_stop_and_latency_serializes(spark, tmp_path):
    """An arbiter outage must fail the commit BEFORE anything publishes
    (fail-stop, never fall through to an unguarded write), and arbiter
    latency inside the critical section must not break one-winner-per-
    basis."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ArbiterLogStore,
        ArbiterUnavailableError,
        CommitArbiter,
    )

    arbiter = CommitArbiter(latency_s=0.05)
    store = ArbiterLogStore(arbiter)
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", _payload(0), expected=None)
    basis = tuple(store.list_commits(spark, mdir))

    arbiter.fail_next(1)
    with pytest.raises(ArbiterUnavailableError):
        store.commit(spark, mdir, "v000000001", _payload(1), expected=basis)
    assert store.list_commits(spark, mdir) == ["v000000000"]  # nothing landed

    outcomes: list[str] = []
    lock = threading.Lock()

    def writer(k: int) -> None:
        try:
            store.commit(spark, mdir, f"v00000000{k}", _payload(k), expected=basis)
            with lock:
                outcomes.append("ok")
        except ConcurrentCommitError:
            with lock:
                outcomes.append("rejected")

    threads = [threading.Thread(target=writer, args=(k,)) for k in (1, 2, 3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert outcomes.count("ok") == 1
    assert len(store.list_commits(spark, mdir)) == 2


def test_full_merges_serialize_under_arbiter_store(spark, tmp_path, restore_store):
    """The table layer end-to-end over the arbiter store: two racing
    merges (distinct batch ids) — every outcome is a serialization and
    the final state equals the fold of exactly the committed batches
    (this pins that the SWAP of stores changes nothing above the
    seam)."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ArbiterLogStore,
    )

    state = str(tmp_path / "state")
    pu.set_log_store(ArbiterLogStore())
    b0_rows = [(1, 10.0), (17, 5.0)]
    batch_rows = {1: [(1, 2.0), (49, 4.0)], 2: [(17, 3.0), (65, 8.0)]}
    pu.merge_batch_into_partitioned_state(
        spark, state, spark.createDataFrame(b0_rows, "key long, amount double"), 0
    )
    results: dict[int, str] = {}
    lock = threading.Lock()

    def writer(bid: int) -> None:
        try:
            pu.merge_batch_into_partitioned_state(
                spark, state,
                spark.createDataFrame(batch_rows[bid], "key long, amount double"),
                bid,
            )
            with lock:
                results[bid] = "ok"
        except ConcurrentCommitError:
            with lock:
                results[bid] = "rejected"

    threads = [threading.Thread(target=writer, args=(bid,)) for bid in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    expected: dict[int, float] = {}
    for bid in [0] + [b for b in (1, 2) if results.get(b) == "ok"]:
        for k, v in (b0_rows if bid == 0 else batch_rows[bid]):
            expected[k] = expected.get(k, 0.0) + v
    got = {r["key"]: r["total"]
           for r in pu.read_latest_partitioned_state(spark, state).collect()}
    assert got == expected


def test_arbiter_same_name_replay_vs_stale_basis_racer():
    """CommitArbiter.cas's same-name rule: re-recording is legal ONLY
    when the caller's basis CONTAINS the name (idempotent replay of a
    commit it saw). Any recorded name absent from the basis — pending OR
    complete — is a stale-basis racer and must lose. The r9 rule spared
    the pending case as 'crashed-replay re-stage'; the 4-writer probe
    then caught a LIVE foreign writer entering through that window
    (winner CAS'd, not yet finalized) and replacing the winner's record.
    A genuinely crashed finalize is recovered by the reader self-heal
    (test_arbiter_store_crash_between_cas_and_finalize_self_heals),
    after which the crashed writer's own replay lists
    the healed name into its basis and takes the replay clause."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        CommitArbiter,
    )

    arb = CommitArbiter()
    arb.cas("t", (), "v000000001", "staged-a")  # first attempt, pending
    with pytest.raises(ConcurrentCommitError, match="pending finalize"):
        arb.cas("t", (), "v000000001", "staged-b")  # racer in the window
    arb.mark_complete("t", "v000000001")
    with pytest.raises(ConcurrentCommitError, match="stale basis"):
        arb.cas("t", (), "v000000001", "staged-c")  # racer: basis lacks v1
    # idempotent replay: basis CONTAINS the (healed/complete) name
    arb.cas("t", ("v000000001",), "v000000001", "staged-d")
    arb.mark_complete("t", "v000000001")
    assert arb.records("t")["v000000001"] is None


@pytest.mark.parametrize(
    "store_cls",
    [HadoopRenameLogStore, ArbiterLogStore],
    ids=["rename", "arbiter"],
)
def test_same_name_stale_basis_racer_never_replaces_winner(
    spark, tmp_path, store_cls
):
    """EVERY store: after a commit of `name` completes, a second writer
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


def test_arbiter_double_finalize_race_is_idempotent(spark, tmp_path):
    """A reader's self-heal can finish a commit between the winner's CAS
    and its own finalize (seen live in the concurrent-writers probe);
    both finishers rename the same staged file, so the winner must treat
    'already finalized' as success — one final manifest, record complete,
    commit() returns without error."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ArbiterLogStore,
        CommitArbiter,
        _qualified_dir,
    )

    mdir = str(tmp_path / "manifests")
    arb = CommitArbiter()
    winner, healer = ArbiterLogStore(arb), ArbiterLogStore(arb)

    orig_cas = arb.cas

    def cas_then_heal(table, expected, name, staged):
        orig_cas(table, expected, name, staged)
        healer.list_commits(spark, mdir)  # self-heal finalizes the pending

    arb.cas = cas_then_heal
    try:
        winner.commit(
            spark, mdir, "v000000001", {"batch_id": 1}, expected=()
        )
    finally:
        arb.cas = orig_cas

    table = _qualified_dir(spark, mdir)
    assert arb.records(table)["v000000001"] is None  # complete
    assert winner.read_commit(spark, mdir, "v000000001")["batch_id"] == 1
    assert winner.list_commits(spark, mdir) == ["v000000001"]


def test_arbiter_finalize_raises_when_both_files_missing(spark, tmp_path):
    """'Staged gone and no final manifest' is real loss, not a benign
    double-finalize — it must stay loud."""
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
        ArbiterLogStore,
        CommitArbiter,
        _qualified_dir,
    )

    import os as _os

    mdir = str(tmp_path / "manifests")
    _os.makedirs(mdir)
    store = ArbiterLogStore(CommitArbiter())
    table = _qualified_dir(spark, mdir)
    with pytest.raises(IOError, match="points at nothing"):
        store._finalize(spark, mdir, table, "v000000009", ".staged.gone.json")
