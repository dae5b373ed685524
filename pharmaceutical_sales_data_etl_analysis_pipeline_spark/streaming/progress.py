"""One shared StreamingQueryListener for progress accounting.

Every fixture query, ingest path, and rung that drives a stream needs
the same three things, and `q.recentProgress` provides none of them
reliably (it is a ring buffer capped at
spark.sql.streaming.numRecentProgressUpdates, default 100 — idle batches
under ProcessingTimeTimeout evict the data batches' entries):

  * per-batch progress rows (input rows, trigger wall, state-store
    size/evictions), deduplicated by (query id, batch id) so a replayed
    epoch reports once;
  * a cumulative input-row count to decide when a fixture's publish has
    fully drained;
  * a termination signal that accounts for listener callbacks arriving
    on their own thread — awaitTermination() returning does NOT mean the
    final progress events were delivered yet.

`drain` waits for a fixture stream on top of it and fails on missing
progress (idle batches, too many batches, a wedged engine), never on
elapsed time.

Before r10 this was hand-copied in three places (the MoR ingest
collector, the session-fixture input counter, and the rung collectors),
each carrying a subset of the semantics; a fix to one — like the
termination-Event race handling — had to be re-found in the others.
"""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class ProgressLog(StreamingQueryListener):
    """Lock-guarded accumulator of every progress event on the session.

    Register with spark.streams.addListener BEFORE starting the query,
    filter by query id afterwards (events for other queries on the same
    session interleave), and ALWAYS removeListener in a finally block —
    a leaked listener keeps accumulating across later queries."""

    def __init__(self):
        # (query id, batch id) -> fields; insertion-ordered, replays of a
        # batch id overwrite in place so the batch sequence stays exact
        self._rows: dict[tuple[str, int], dict] = {}
        self._terminated: dict[str, threading.Event] = {}
        self._guard = threading.Lock()

    # -- listener callbacks (run on the listener bus thread) -----------
    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = json.loads(p.json).get("stateOperators", [])
        with self._guard:
            self._rows[(str(p.id), p.batchId)] = {
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
            }

    def onQueryTerminated(self, event):
        with self._guard:
            ev = self._terminated.setdefault(str(event.id), threading.Event())
        ev.set()

    # -- consumer API --------------------------------------------------
    def batches(self, query_id: str) -> list[dict]:
        """This query's per-batch rows in batch order (deduplicated)."""
        with self._guard:
            return [d for (i, _b), d in self._rows.items() if i == query_id]

    def input_rows(self, query_id: str) -> int:
        """Total input rows delivered to this query so far."""
        with self._guard:
            return sum(
                d["input_rows"]
                for (i, _b), d in self._rows.items()
                if i == query_id
            )

    def wait_terminated(self, query_id: str, timeout_s: float) -> bool:
        """Block until the termination CALLBACK arrived (not merely until
        awaitTermination returned). False = the tail of the progress list
        may be missing — callers should surface that, not guess."""
        with self._guard:
            ev = self._terminated.setdefault(query_id, threading.Event())
        return ev.wait(timeout=timeout_s)


class StreamStalled(RuntimeError):
    """A driven stream stopped making progress (see drain)."""


# no completed micro-batch for this long means a wedged engine, not a
# slow host: the slowest fixture batch measured took ~45 s (sf0.001,
# bare local[2] session at 200 shuffle partitions, 4-core host)
WEDGE_S = 1800.0


def check_progress(batches: list[dict], n_expected: int, n_files: int, what: str) -> None:
    """Raise StreamStalled when the completed batches of a stream over
    `n_files` pre-published files (one file per trigger) show no
    progress. Its termination contract allows one data batch per file,
    each followed by at most one no-data batch, so more than 2 *
    n_files batches, or more than n_files consecutive batches without
    input rows while rows remain, is a stall. Pure, so it is testable
    without Spark."""
    if len(batches) > 2 * n_files:
        raise StreamStalled(
            f"{what}: {len(batches)} micro-batches ran, more than the "
            f"{2 * n_files} its termination contract allows"
        )
    seen = sum(b["input_rows"] for b in batches)
    idle = 0
    for b in reversed(batches):
        if b["input_rows"]:
            break
        idle += 1
    if seen < n_expected and idle > n_files:
        raise StreamStalled(
            f"{what}: {idle} consecutive micro-batches added no input rows "
            f"with {n_expected - seen} of {n_expected} rows still undelivered"
        )


def drain(
    q, log: ProgressLog, n_expected: int, n_files: int, what: str,
    until_terminated: bool = False,
) -> None:
    """Wait until the query has processed `n_expected` input rows (and,
    with until_terminated, has stopped by itself), capped on progress
    rather than on elapsed time: a slow host only makes batches slower,
    so a total-time deadline turns load into a query error. Raises
    StreamStalled per check_progress, when the query stops before it is
    done, or when no batch completes for WEDGE_S."""
    qid = str(q.id)
    n_done, last_change = 0, time.monotonic()
    while True:
        active = q.isActive
        if not active:
            q.awaitTermination()  # re-raises the query's own failure
            # its last progress events may still be on the listener bus
            log.wait_terminated(qid, 60)
        batches = log.batches(qid)
        drained = sum(b["input_rows"] for b in batches) >= n_expected
        # checked before the batch cap: idle batches the listener delivers
        # together with the last data batch are not a stall
        if drained and not until_terminated:
            return
        check_progress(batches, n_expected, n_files, what)
        if not active:
            if drained:
                return
            raise StreamStalled(f"{what}: the query stopped before its input drained")
        if len(batches) != n_done:
            n_done, last_change = len(batches), time.monotonic()
        elif time.monotonic() - last_change > WEDGE_S:
            raise StreamStalled(f"{what}: no micro-batch completed in {WEDGE_S:.0f}s")
        time.sleep(0.3)
