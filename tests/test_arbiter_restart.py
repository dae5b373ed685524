"""Arbiter process crash + restart (r11, VERDICT ask #2).

The in-memory CommitArbiter models a conditional-put service; a real
deployment's arbiter PROCESS can die and restart with an empty record
table (amnesia), re-learning names only via seed(). The r10 verdict
called this the last unproven commit-protocol seam and predicted a
fifth probe-caught bug — correctly, twice:

1. LIVENESS: a SURVIVING client caches its per-table seed
   (ArbiterLogStore._seeded), so after a restart nothing re-seeded the
   fresh arbiter and EVERY CAS compared a non-empty FS basis against an
   empty arbiter listing — rejecting forever. Fixed by re-seeding the
   writer's basis before each CAS (truthful: every basis name is a
   final manifest; idempotent: seed never clobbers live records).
2. DOUBLE-WIN CLOBBER: a writer whose CAS won at incarnation A (pending,
   finalize not yet run) is invisible to incarnation B, so a second
   writer could CAS-win the SAME name and both finalizes would race an
   OVERWRITE rename — last-wins, silently losing one batch. Fixed by
   making the fresh-commit finalize FIRST-WINS (plain rename refuses an
   existing destination; the loser drops its record + staged file and
   raises the retry-safe conflict). Replays and reader self-heals keep
   overwrite semantics (same logical state by contract).

A restart is modelled in-process by swapping the store's arbiter for a
fresh CommitArbiter (same client, empty record table).
"""

from __future__ import annotations

import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming import (
    partitioned_upsert as pu,
)
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
    ArbiterLogStore,
    CommitArbiter,
    ConcurrentCommitError,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "key long, amount double")


def _fold(spark, state):
    return {
        r["key"]: (r["total"], r["n_rows"])
        for r in pu.read_latest_partitioned_state(spark, state).collect()
    }


def test_surviving_client_commits_after_arbiter_restart(spark, tmp_path):
    """Liveness bug #1: the client's _seeded cache made a fresh arbiter
    permanently unseedable from a surviving process. The per-commit
    basis re-seed restores progress; the committed history is intact."""
    store = ArbiterLogStore(CommitArbiter())
    prev = pu.set_log_store(store)
    try:
        state = str(tmp_path / "state")
        pu.append_delta_batch(spark, state, _df(spark, [(1, 1.0)]), 0, range_width=16)
        pu.append_delta_batch(spark, state, _df(spark, [(2, 2.0)]), 1, range_width=16)
        # RESTART: fresh in-memory record table; the client object (and
        # its _seeded cache) survives — exactly the deployment topology
        store.arbiter = CommitArbiter()
        pu.append_delta_batch(spark, state, _df(spark, [(3, 3.0)]), 2, range_width=16)
        assert _fold(spark, state) == {1: (1.0, 1), 2: (2.0, 1), 3: (3.0, 1)}
        # the restarted arbiter converged to the FS: all three complete
        key = next(iter(store.arbiter._tables))
        assert all(v is None for v in store.arbiter._tables[key].values())
    finally:
        pu.set_log_store(prev)


def test_amnesia_double_win_is_first_wins_not_clobber(spark, tmp_path):
    """Bug #2: writer W1 CAS-won v1 at incarnation A but had not
    finalized when the arbiter restarted; a NEW client W2 (seeding from
    the FS, which does not show v1) CAS-wins the SAME name at
    incarnation B and finalizes first. W1's late finalize must NOT
    overwrite W2's visible manifest: it loses loudly, cleans its staged
    file, and leaves no record a healer could resurrect."""
    import json

    arb_a = CommitArbiter()
    w1 = ArbiterLogStore(arb_a)
    mdir = str(tmp_path / "state" / "manifests")
    w1.commit(spark, mdir, "v000000000", {"batch_id": 0}, expected=None)
    basis = tuple(w1.list_commits(spark, mdir))

    # W1: stage + CAS at incarnation A, finalize NOT yet run
    frozen: dict = {}

    def freeze_finalize(spark_, mdir_, table, name, staged_name, **kw):
        frozen.update(table=table, name=name, staged=staged_name, kw=kw)

    real_finalize = ArbiterLogStore._finalize
    w1._finalize = freeze_finalize  # instance-level pause
    w1.commit(spark, mdir, "v000000001", {"batch_id": 1, "who": "w1"}, expected=basis)
    assert frozen["name"] == "v000000001"

    # RESTART: a fresh incarnation + a NEW client that seeds from the FS
    # (v1 is not final there — W1 never renamed)
    arb_b = CommitArbiter()
    w2 = ArbiterLogStore(arb_b)
    w2.commit(spark, mdir, "v000000001", {"batch_id": 1, "who": "w2"}, expected=basis)
    assert w2.read_commit(spark, mdir, "v000000001")["who"] == "w2"

    # W1 resumes its finalize — through the RESTARTED endpoint, i.e. its
    # client now talks to incarnation B, where the only record for v1 is
    # the WINNER's (the deployment topology: same endpoint, new process).
    # First-wins: loud loss, no clobber, and crucially the winner's
    # record must SURVIVE — forgetting it would blind the CAS
    # stale-basis rejection for v1 and let a stale-basis writer publish
    # a manifest that silently drops the winner's batch (r11 review).
    w1.arbiter = arb_b
    with pytest.raises(ConcurrentCommitError, match="first-wins"):
        real_finalize(
            w1, spark, mdir, frozen["table"], frozen["name"], frozen["staged"],
            allow_overwrite=False,
        )
    assert w2.read_commit(spark, mdir, "v000000001")["who"] == "w2"
    # the winner's record is intact at incarnation B (complete) — v1
    # stays in every CAS basis comparison
    assert "v000000001" in arb_b.records(frozen["table"])
    # and a stale-basis writer is still rejected on v1's name
    with pytest.raises(ConcurrentCommitError):
        w2.commit(
            spark, mdir, "v000000002", {"batch_id": 2}, expected=basis
        )
    assert w2.list_commits(spark, mdir) == ["v000000000", "v000000001"]
    from pharmaceutical_sales_data_etl_analysis_pipeline_spark.sources.maintenance import (
        _fs_and_path,
    )

    fs, _, jvm = _fs_and_path(spark, mdir)
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{mdir}/{frozen['staged']}"))


def test_loser_marks_complete_never_forgets(spark, tmp_path):
    """Second r11 review: the OPPOSITE ordering of the double-win — W1's
    rename wins but its mark_complete ack is lost, so the live record at
    incarnation B is the LOSER W2's own pending record. W2's first-wins
    cleanup must mark the name COMPLETE (the final file exists — that is
    simply the truth), never forget it: a forgotten name vanishes from
    every CAS basis comparison and a stale-basis writer could publish a
    manifest silently dropping W1's committed batch."""
    arb_a = CommitArbiter()
    w1 = ArbiterLogStore(arb_a)
    mdir = str(tmp_path / "state" / "manifests")
    w1.commit(spark, mdir, "v000000000", {"batch_id": 0}, expected=None)
    basis = tuple(w1.list_commits(spark, mdir))

    # W1 stages + CASes at incarnation A; its finalize is frozen
    frozen: dict = {}

    def freeze(spark_, mdir_, table, name, staged_name, **kw):
        frozen.update(table=table, name=name, staged=staged_name)

    real_finalize = ArbiterLogStore._finalize
    w1._finalize = freeze
    w1.commit(spark, mdir, "v000000001", {"batch_id": 1, "who": "w1"}, expected=basis)

    # restart; W2 (new client) CASes the same name at incarnation B but
    # its OWN finalize is also frozen — W1's rename then lands FIRST
    arb_b = CommitArbiter()
    w2 = ArbiterLogStore(arb_b)
    w2_frozen: dict = {}

    def freeze2(spark_, mdir_, table, name, staged_name, **kw):
        w2_frozen.update(table=table, name=name, staged=staged_name)

    w2._finalize = freeze2
    w2.commit(spark, mdir, "v000000001", {"batch_id": 1, "who": "w2"}, expected=basis)

    # W1 finalizes first (fresh commit, first-wins rename succeeds) but
    # we model its mark_complete ack being lost by pointing it at a
    # throwaway arbiter for the finalize call
    w1.arbiter = CommitArbiter()
    real_finalize(
        w1, spark, mdir, frozen["table"], frozen["name"], frozen["staged"],
        allow_overwrite=False,
    )
    assert w2.read_commit(spark, mdir, "v000000001")["who"] == "w1"

    # W2's finalize loses the race; its cleanup runs against incarnation
    # B where the record is ITS OWN pending one — it must mark complete
    with pytest.raises(ConcurrentCommitError, match="first-wins"):
        real_finalize(
            w2, spark, mdir, w2_frozen["table"], w2_frozen["name"],
            w2_frozen["staged"], allow_overwrite=False,
        )
    recs = arb_b.records(w2_frozen["table"])
    assert "v000000001" in recs and recs["v000000001"] is None  # complete
    # the stale-basis writer is still rejected on v1's name
    with pytest.raises(ConcurrentCommitError):
        w2.commit(spark, mdir, "v000000002", {"batch_id": 2}, expected=basis)
    # and W1's content is untouched
    assert w2.read_commit(spark, mdir, "v000000001")["who"] == "w1"


def test_fresh_commit_pre_cas_check_rejects_foreign_final(spark, tmp_path):
    """The cheap pre-CAS guard: a fresh commit whose name is already a
    FINAL manifest outside the writer's basis loses before staging
    anything — the amnesiac-arbiter path can never be talked into
    overwriting a visible manifest."""
    arb_a = CommitArbiter()
    w1 = ArbiterLogStore(arb_a)
    mdir = str(tmp_path / "state" / "manifests")
    w1.commit(spark, mdir, "v000000000", {"batch_id": 0}, expected=None)
    basis = tuple(w1.list_commits(spark, mdir))
    w1.commit(spark, mdir, "v000000001", {"batch_id": 1, "who": "w1"}, expected=basis)

    # restart + a surviving STALE-basis client at the new incarnation
    w2 = ArbiterLogStore(CommitArbiter())
    w2.list_commits(spark, mdir)  # seeds incarnation B from the FS
    with pytest.raises(ConcurrentCommitError, match="outside this writer's basis"):
        w2.commit(
            spark, mdir, "v000000001", {"batch_id": 1, "who": "w2"}, expected=basis
        )
    assert w2.read_commit(spark, mdir, "v000000001")["who"] == "w1"


def test_replay_republish_keeps_overwrite_semantics(spark, tmp_path):
    """A replayed batch whose basis CONTAINS the name (same logical
    content by the replay contract) must still be able to re-publish —
    the first-wins rule applies only to FRESH commits."""
    store = ArbiterLogStore(CommitArbiter())
    mdir = str(tmp_path / "state" / "manifests")
    store.commit(spark, mdir, "v000000000", {"batch_id": 0}, expected=None)
    basis0 = tuple(store.list_commits(spark, mdir))
    store.commit(spark, mdir, "v000000001", {"batch_id": 1}, expected=basis0)
    basis1 = tuple(store.list_commits(spark, mdir))
    # replay: name in basis -> overwrite-legal republish
    store.commit(spark, mdir, "v000000001", {"batch_id": 1}, expected=basis1)
    assert store.list_commits(spark, mdir) == ["v000000000", "v000000001"]
    assert store.read_commit(spark, mdir, "v000000001")["batch_id"] == 1


def test_pre_cas_re_list_rejects_foreign_final_under_other_name(spark, tmp_path):
    """r12 (ADVICE r11): the r11 pre-CAS guard checked only the SAME
    name. A foreign commit under a DIFFERENT manifest name landing
    between this writer's listing and an amnesiac restart was invisible
    to the CAS — the per-commit re-seed carries only the writer's own
    STALE basis, so the CAS passes and the stale-basis commit publishes
    a manifest whose delta lineage silently omits the foreign batch.
    The pre-CAS FS re-list rejects ANY final manifest outside the
    basis, before staging or recording anything."""
    mdir = str(tmp_path / "state" / "manifests")
    arb_a = CommitArbiter()
    w = ArbiterLogStore(arb_a)
    w.commit(spark, mdir, "v000000000", {"batch_id": 0}, expected=None)
    stale = tuple(w.list_commits(spark, mdir))  # (v0,) — about to go stale

    # a foreign incarnation lands batch 1 under a name NOT in `stale`
    wf = ArbiterLogStore(CommitArbiter())
    wf.commit(
        spark, mdir, "v000000001", {"batch_id": 1, "who": "f"},
        expected=tuple(wf.list_commits(spark, mdir)),
    )

    # the arbiter restarts EMPTY; the surviving stale-basis writer tries
    # batch 2 — its re-seed would teach the amnesiac arbiter only (v0,),
    # so without the FS re-list the CAS would pass
    w.arbiter = CommitArbiter()
    with pytest.raises(ConcurrentCommitError, match="outside this writer's basis"):
        w.commit(spark, mdir, "v000000002", {"batch_id": 2}, expected=stale)

    # rejected BEFORE staging or recording: no v2 record at the arbiter,
    # no staged debris, and the foreign manifest is untouched
    table = w._table_key(spark, mdir)
    assert "v000000002" not in w.arbiter.records(table)
    import os

    assert not [f for f in os.listdir(mdir) if f.startswith(".staged.")]
    assert w.read_commit(spark, mdir, "v000000001")["who"] == "f"
    # a fresh basis commits cleanly
    fresh = tuple(w.list_commits(spark, mdir))
    w.commit(spark, mdir, "v000000002", {"batch_id": 2}, expected=fresh)
    assert w.list_commits(spark, mdir) == [
        "v000000000", "v000000001", "v000000002",
    ]
