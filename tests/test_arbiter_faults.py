"""Arbiter transport faults at the store level.

A real conditional-put service (DynamoDB, S3 If-None-Match) also fails in
transit: a response can be lost AFTER the service applied the call.
FaultInjectingArbiter models that client-side with deterministic
budgets. An ambiguous CAS must leave the staged payload in place, so the
reader self-heal can finish a commit that in fact won: commit() used to
DELETE its staged file on ArbiterUnavailableError, stranding a CAS-won
record on nothing and turning the self-heal into a loud IOError.
"""

from __future__ import annotations

import pytest

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.streaming.logstore import (
    ArbiterLogStore,
    ArbiterUnavailableError,
    CommitArbiter,
    FaultInjectingArbiter,
)


def test_store_level_ambiguous_cas_preserves_staged_for_self_heal(
    spark, tmp_path
):
    """The r10 fix at store level: after an ambiguous CAS the staged file
    must SURVIVE, so a second client's list self-heals the won commit
    instead of finding a record that points at nothing."""
    server = CommitArbiter()
    flaky = ArbiterLogStore(FaultInjectingArbiter(server, {"cas": {"fail_after": 1}}))
    healthy = ArbiterLogStore(server)
    mdir = str(tmp_path / "state" / "manifests")
    flaky.commit(spark, mdir, "v000000000", {"batch_id": 0}, expected=None)
    basis = tuple(flaky.list_commits(spark, mdir))
    with pytest.raises(ArbiterUnavailableError, match="response lost"):
        flaky.commit(spark, mdir, "v000000001", {"batch_id": 1}, expected=basis)
    # the OTHER client's read finishes the finalize from the staged file
    healed = healthy.list_commits(spark, mdir)
    assert healed == ["v000000000", "v000000001"]
    assert healthy.read_commit(spark, mdir, "v000000001")["batch_id"] == 1
