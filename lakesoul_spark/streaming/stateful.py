"""Stateful streaming operators for training-data ingestion streams.

The reference delegates event-time/stateful stream processing to the
host engine (SURVEY §2.8: watermarks/session windows are "host-engine
features"). These are the three stateful operators a training-data
ingestion stream actually needs; state is per-key and bounded, so the
operators hold on a 1000-executor cluster:

- :func:`first_event_per_key` — streaming dedup: pass through only the
  first event seen per key (state = one marker row per key, O(#keys),
  optional processing-time TTL for unbounded key spaces).
- :func:`sessionize` — event-time sessionization with a gap timeout:
  Spark's native ``session_window`` aggregate, no Python worker;
  closed sessions are emitted once the watermark passes
  ``session_end + gap``.
- :func:`latest_state_stream` — per-key latest state with optional
  TTL tombstones.

``first_event_per_key`` and ``latest_state_stream`` have no native
equivalent: they run per-key Arrow batches through pandas under
``applyInPandasWithState``. All three emit append- or update-mode
output, so downstream sinks (including the LakeSoul foreachBatch sink)
consume them like any other stream.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def first_event_per_key(
    sdf: DataFrame,
    key_cols: list[str],
    *,
    order_col: str,
    ttl_ms: int | None = None,
    settle_ms: int | None = None,
) -> DataFrame:
    """Streaming dedup: emit each key's first event, drop the rest.

    **Fast path (default, ``settle_ms=None``)**: "first" = the minimum
    ``order_col`` row of the first micro-batch in which the key appears
    (if the source delivers batches in ``order_col`` order — e.g.
    sorted files with maxFilesPerTrigger — this is the global arg-min
    and the operator is deterministic and SQL-oracle-checkable). With
    OUT-OF-ORDER delivery across batches the winner is batch-dependent:
    a smaller ``order_col`` arriving in a LATER batch loses.

    **Strict mode (``settle_ms=N``)**: the candidate min-order event is
    HELD in state for a settle window of N ms of processing time; any
    smaller-order event arriving within the window (each arrival
    resets it) replaces the candidate, and the winner is emitted only
    when the window expires quietly. Late events bounded by the settle
    window can no longer flip the result — emission latency is the
    price. State per key grows by the one held row.

    State per key is a single marker (fast path: no payload), so total
    state is O(distinct keys). For unbounded key spaces pass
    ``ttl_ms``: markers expire after that much processing time and a
    key recurring later is treated as new — the standard bounded-state
    trade-off.
    """
    out_schema = sdf.schema
    cols = list(sdf.columns)

    if settle_ms is None:
        def fn(
            key, pdfs: Iterator[pd.DataFrame], state: GroupState
        ) -> Iterator[pd.DataFrame]:
            if state.hasTimedOut:
                state.remove()
                return
            first = None
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                cand = pdf.loc[[pdf[order_col].idxmin()]]
                if first is None or cand[order_col].iloc[0] < first[order_col].iloc[0]:
                    first = cand
            if not state.exists and first is not None:
                state.update((True,))
                if ttl_ms is not None:
                    state.setTimeoutDuration(ttl_ms)
                yield first[cols]
            elif state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)  # refresh the TTL

        return sdf.groupBy(*key_cols).applyInPandasWithState(
            fn,
            out_schema,
            "seen boolean",
            "append",
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout,
        )

    # strict mode: state = (emitted, held candidate row). The held row
    # rides as a pickled one-row frame in a binary column — the state
    # schema stays key-agnostic and the payload round-trips all types.
    import pickle

    def fn_strict(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            emitted, payload = state.get
            if emitted:
                state.remove()  # ttl expired on an already-emitted key
                return
            # settle window expired quietly → the held candidate wins
            state.update((True, b""))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pickle.loads(payload)[cols]
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[[pdf[order_col].idxmin()]]
            if best is None or cand[order_col].iloc[0] < best[order_col].iloc[0]:
                best = cand
        if best is None:
            return
        if state.exists:
            emitted, payload = state.get
            if emitted:
                if ttl_ms is not None:
                    state.setTimeoutDuration(ttl_ms)  # refresh the TTL
                return
            held = pickle.loads(payload)
            if best[order_col].iloc[0] < held[order_col].iloc[0]:
                payload = pickle.dumps(best)
            state.update((False, payload))
        else:
            state.update((False, pickle.dumps(best)))
        state.setTimeoutDuration(settle_ms)

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn_strict,
        out_schema,
        "emitted boolean, payload binary",
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize(
    sdf: DataFrame, key_cols: list[str], *, ts_col: str, gap_ms: int
) -> DataFrame:
    """Event-time session windows with a ``gap_ms`` inactivity timeout.

    Input must carry a watermark on ``ts_col`` (``withWatermark``).
    Events of one key whose timestamps are at most ``gap_ms`` apart
    belong to one session (two events exactly ``gap_ms`` apart merge);
    a session is emitted as ``key..., session_start, session_end,
    n_events`` once the watermark reaches ``session_end + gap_ms``.

    This is Spark's own ``session_window`` aggregate, so no Python
    worker runs. Sessions stay in Spark's state store until the
    watermark passes them: a late event arriving batches later still
    lands in its session, merging into an island delivered earlier or
    bridging two open sessions into one.

    **Late rows are dropped.** Spark drops an input row whose one-event
    session ``[ts, ts + gap)`` ends at or before the watermark of the
    previous micro-batch; it appears in no session and is counted in
    the progress's ``numRowsDroppedByWatermark``. A row later than the
    watermark but within ``gap`` of it is still aggregated.
    """
    ts = F.col(ts_col)
    return (
        sdf.groupBy(F.session_window(ts, f"{gap_ms} milliseconds"),
                    *key_cols)
        .agg(F.min(ts).alias("session_start"),
             F.max(ts).alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
        .select(*key_cols, "session_start", "session_end", "n_events")
    )


def latest_state_stream(
    sdf: DataFrame,
    key_cols: list[str],
    *,
    order_col: str,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Continuous per-key latest-state maintenance with optional TTL
    tombstones — the Spark re-expression of a Flink keyed process
    function with value state + timers (the pattern the reference's
    Flink CDC sink runs: hold the newest row per PK, emit changes
    downstream).

    Semantics: last-writer-wins by ``order_col`` per key. Output is the
    input schema plus an ``op`` column: ``'u'`` whenever a key's latest
    row CHANGES (a stale row with ``order_col`` <= the current winner
    emits nothing), and — when ``ttl_ms`` is set — ``'d'`` when a key
    receives no updates for ``ttl_ms`` processing-time ms; the key's
    state is then dropped, so the footprint is O(active keys), not
    O(all keys ever). That makes the output a CDC stream: feed it to
    the LakeSoul sink on a CDC table and downstream MOR reads track
    the live set.

    Runs under ``applyInPandasWithState`` + ProcessingTimeTimeout.
    Spark clears the timeout on every invocation, so it is re-armed on
    every call, a stale arrival included: a stale row extends the
    key's life.

    State per key: one row. One keyed exchange; Arrow-batched Python.
    """
    from pyspark.sql.types import StructType

    in_schema: StructType = sdf.schema
    cols = [f.name for f in in_schema.fields]
    if order_col not in cols:
        raise ValueError(f"order_col {order_col!r} not in stream schema")
    for k in key_cols:
        if k not in cols:
            raise ValueError(f"key column {k!r} not in stream schema")
    out_ddl = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema.fields]
        + ["op string"]
    )
    state_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema.fields
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            stored = state.get
            state.remove()
            out = {c: [stored[i]] for i, c in enumerate(cols)}
            out["op"] = ["d"]
            yield pd.DataFrame(out, columns=cols + ["op"])
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[pdf[order_col].idxmax()]
            if best is None or cand[order_col] > best[order_col]:
                best = cand
        if best is None:
            return
        cur = state.getOption
        oi = cols.index(order_col)
        if cur is not None and not (best[order_col] > cur[oi]):
            # stale arrival — keep state, emit nothing. Spark CLEARS any
            # previously-set timeout on every invocation, so the TTL
            # timer must be re-armed here or the key would never expire
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return
        state.update(tuple(best[c] for c in cols))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        out = {c: [best[c]] for c in cols}
        out["op"] = ["u"]
        yield pd.DataFrame(out, columns=cols + ["op"])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn, out_ddl, state_ddl, "update", timeout
    )

