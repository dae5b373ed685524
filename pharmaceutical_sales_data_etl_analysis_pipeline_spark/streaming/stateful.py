"""Custom stateful streaming operator: per-user running totals via
applyInPandasWithState (SURVEY.md §2.10 planned surface).

The reference has no streaming state; this is the engine surface for
arbitrary per-key state machines (running aggregates, CDC-style upserts,
custom sessionization) that outgrow built-in windowed aggs. State lives in
the state store (RocksDB/HDFS-backed on a cluster), partitioned by key —
scales horizontally with executors; each micro-batch touches only keys
present in the batch.

The state function is defined inside the builder so cloudpickle serializes
it by value — Python workers never need this package importable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ..operators.pyworker import ready

RUNNING_CENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)

_CENTS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def running_user_totals_cents(events_stream: DataFrame) -> DataFrame:
    """Cumulative per-user event count and exact total across
    micro-batches: the input carries a pre-scaled integer `cents` column
    (computed JVM-side, so the float→int
    quantization is one Catalyst expression shared with the SQL oracle) and
    the state accumulates int64 — order- and batch-grouping-invariant, so
    the FINAL emit per key equals the batch groupBy exactly, bit-for-bit.
    This is the driver-verifiable face of the stateful surface: update-mode
    emits are cumulative and monotone per key, and the last emit per key is
    the full aggregate regardless of how the trigger grouped the input.
    """

    def update(key, pdfs, state):
        ready()
        import pandas as pd

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["cents"].to_numpy(dtype="int64").sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [total]}
        )

    return (
        events_stream.select("user_id", "cents")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_CENTS_SCHEMA,
            stateStructType=_CENTS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("closed_by", T.StringType()),
    ]
)

_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("closed", T.LongType()),
    ]
)


def gap_sessions(
    events_stream: DataFrame,
    gap_us: int,
    timeout_ms: int = 120_000,
) -> DataFrame:
    """Streaming gap sessionization with STATE EXPIRY — the surface that
    bounds the state store at 100 TB. Input columns: user_id long,
    ts_us long (epoch microseconds — integer time math, exact in both
    engines), flush boolean (a producer end-of-key marker: closes the
    key's open session through the DATA path and removes its state).

    Per key the state holds one OPEN session (start/end/n) plus the
    closed-session count (numbers emitted sessions 1..k in close order —
    the same ids as the batch boundary-cumsum in operators/eventsops.
    sessionize). Events fold in ts order; a gap > gap_us closes the open
    session (closed_by='gap'). Emission is APPEND-mode: one row per
    COMPLETED session, never updated afterwards.

    EXPIRY: after every data invocation the key re-arms a
    GroupStateTimeout.ProcessingTimeTimeout of `timeout_ms`; a key silent
    that long gets one final invocation with hasTimedOut=True, which
    emits its open session (closed_by='timeout') and REMOVES the state —
    eviction, the property that keeps the store O(active keys) instead
    of O(all keys ever seen) under key churn (measured in SCALE.md's
    expiry rung). Deployment caveat, stated plainly:
    processing-time expiry is only exact when a timed-out key is really
    finished (its next event would start a NEW session anyway, i.e. the
    wall silence implies an event-time gap); a key that reappears after
    eviction restarts session_seq at 1. The registered oracle fixture
    sidesteps wall-clock nondeterminism entirely: each key's whole
    history arrives in one batch and a final flush batch closes every
    open session through the data path, so the output is identical
    whether or not any timeout fired first (a fired timeout removes the
    state, making the later flush a no-op for that key).

    State is partitioned by key across executors (RocksDB/HDFS-backed on
    a cluster); each micro-batch touches only keys present in the batch
    plus that batch's expired keys."""

    def update(key, pdfs, state):
        ready()
        import pandas as pd

        out: list[tuple] = []
        uid = key[0]
        if state.hasTimedOut:
            start_us, end_us, n, closed = state.get
            out.append((uid, closed + 1, n, start_us, end_us, "timeout"))
            state.remove()
        else:
            had_state = state.exists
            if had_state:
                start_us, end_us, n, closed = state.get
                open_s = (start_us, end_us, n)
            else:
                open_s, closed = None, 0
            rows = pd.concat(list(pdfs), ignore_index=True)
            # flush markers sort LAST regardless of their ts_us (their
            # timestamp is a meaningless placeholder): a marker landing
            # in the same micro-batch as the key's events must close the
            # session AFTER those events folded, or it would no-op
            # against empty state and the session would never emit
            rows = rows.sort_values(["flush", "ts_us"], kind="stable")
            for ts_us, flush in zip(
                rows["ts_us"].to_numpy(), rows["flush"].to_numpy()
            ):
                if flush:
                    if open_s is not None:
                        closed += 1
                        out.append(
                            (uid, closed, open_s[2], open_s[0], open_s[1], "flush")
                        )
                        open_s = None
                    continue
                t = int(ts_us)
                if open_s is None:
                    open_s = (t, t, 1)
                elif t - open_s[1] > gap_us:
                    closed += 1
                    out.append(
                        (uid, closed, open_s[2], open_s[0], open_s[1], "gap")
                    )
                    open_s = (t, t, 1)
                else:
                    open_s = (open_s[0], max(open_s[1], t), open_s[2] + 1)
            if open_s is None:
                if had_state:
                    state.remove()
            else:
                state.update((open_s[0], open_s[1], open_s[2], closed))
                state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "session_seq",
                    "n_events",
                    "session_start_us",
                    "session_end_us",
                    "closed_by",
                ],
            )

    return (
        events_stream.select("user_id", "ts_us", "flush")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


EVENT_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("closed_by", T.StringType()),
    ]
)


def event_time_sessions(
    events_stream: DataFrame, gap_us: int
) -> DataFrame:
    """Gap sessionization with WATERMARK-DRIVEN expiry — the
    deterministic production shape (Flink-style session windows).
    Where gap_sessions evicts on wall-clock silence, this operator sets
    a GroupStateTimeout.EventTimeTimeout at session_end + gap: the key's
    open session closes either when its OWN next event arrives past the
    gap (closed_by='gap') or when the stream's WATERMARK passes the
    session's gap horizon (closed_by='watermark') — both functions of
    the DATA, not the clock, so with a deterministic fixture even the
    close mechanism is oracle-checkable: every non-final session of a
    key closes by 'gap', every final one by 'watermark'.

    Input: `ts` timestamp column CARRYING A WATERMARK
    (events.withWatermark('ts', ...)) — EventTimeTimeout requires one —
    plus user_id. Termination is clean under trigger(availableNow):
    unlike ProcessingTimeTimeout, the engine schedules exactly one extra
    batch per watermark advance, so once the input (plus any
    watermark-advancing sentinel row the caller appends) is drained and
    pending timeouts fired, the query stops on its own.

    Two subtleties the implementation must own:
    - a key with data in a batch gets hasTimedOut=False even if its
      horizon already passed; the data path's gap check closes the stale
      session — same fold, different trigger;
    - setTimeoutTimestamp must stay ABOVE the current watermark (the API
      rejects the past); a late-straggler key clamps to watermark+1ms —
      its session then closes at the next watermark advance, which is
      also exactly when the batch contract says a late row's session is
      over.

    State: one open session + the closed count per key, partitioned by
    key across executors; the watermark bounds the store just like the
    windowed-agg operators — state is O(keys inside the gap horizon)."""

    def update(key, pdfs, state):
        ready()
        import pandas as pd

        out: list[tuple] = []
        uid = key[0]
        if state.hasTimedOut:
            start_us, end_us, n, closed = state.get
            out.append((uid, closed + 1, n, start_us, end_us, "watermark"))
            state.remove()
        else:
            had_state = state.exists
            if had_state:
                start_us, end_us, n, closed = state.get
                open_s = (start_us, end_us, n)
            else:
                open_s, closed = None, 0
            rows = pd.concat(list(pdfs), ignore_index=True)
            ts_us = (
                rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            )
            ts_us.sort()
            for t in ts_us:
                t = int(t)
                if open_s is None:
                    open_s = (t, t, 1)
                elif t - open_s[1] > gap_us:
                    closed += 1
                    out.append(
                        (uid, closed, open_s[2], open_s[0], open_s[1], "gap")
                    )
                    open_s = (t, t, 1)
                else:
                    open_s = (open_s[0], max(open_s[1], t), open_s[2] + 1)
            state.update((open_s[0], open_s[1], open_s[2], closed))
            horizon_ms = (open_s[1] + gap_us) // 1000 + 1
            state.setTimeoutTimestamp(
                max(horizon_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "session_seq",
                    "n_events",
                    "session_start_us",
                    "session_end_us",
                    "closed_by",
                ],
            )

    return (
        events_stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EVENT_SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

