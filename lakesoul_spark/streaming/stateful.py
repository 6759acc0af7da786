"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference delegates event-time/stateful stream processing to the
host engine (SURVEY §2.8: watermarks/session windows are "host-engine
features"); these are the two stateful operators a training-data
ingestion stream actually needs, built the idiomatic Spark way — state
is per-key, Arrow-batched, and bounded, so the operators hold on a
1000-executor cluster:

- :func:`first_event_per_key` — streaming dedup: pass through only the
  first event seen per key (state = one marker row per key, O(#keys),
  optional processing-time TTL for unbounded key spaces).
- :func:`sessionize` — event-time sessionization with a gap timeout:
  closed sessions are emitted as soon as the watermark passes
  ``session_end + gap`` (state = one open session per key).

Both run per-key chunks through pandas, never materialize a whole
partition, and emit append-mode output, so downstream sinks (including
the LakeSoul foreachBatch sink) consume them like any other stream.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
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


SESSION_SCHEMA = (
    "session_start timestamp, session_end timestamp, n_events bigint"
)

_SESSIONS_STATE = "starts array<bigint>, ends array<bigint>, ns array<bigint>"


def _merge_gap_sessions(
    sessions: list[tuple[int, int, int]], gap_us: int
) -> list[tuple[int, int, int]]:
    """Gap-merge (start_us, end_us, n) sessions: sort by start, fuse
    any neighbor within ``gap_us`` — transitive, so a late island can
    bridge two previously separate sessions into one."""
    sessions = sorted(sessions)
    out: list[tuple[int, int, int]] = []
    for s, e, n in sessions:
        if out and s - out[-1][1] <= gap_us:
            ps, pe, pn = out[-1]
            out[-1] = (ps, max(pe, e), pn + n)
        else:
            out.append((s, e, n))
    return out


def _batch_islands(pdfs, ts_col: str, gap_us: int):
    """Vectorized gaps-and-islands over one micro-batch's rows →
    [(start_us, end_us, n)] (no per-event loop)."""
    parts = [pdf[ts_col] for pdf in pdfs if len(pdf)]
    if not parts:
        return []
    ts = pd.concat(parts, ignore_index=True).sort_values(ignore_index=True)
    gap = pd.Timedelta(microseconds=gap_us)
    grp = ts.groupby(ts.diff().gt(gap).cumsum())
    return [
        (s.value // 1000, e.value // 1000, int(n))
        for s, e, n in zip(grp.first(), grp.last(), grp.size())
    ]


def sessionize(
    sdf: DataFrame,
    key_cols: list[str],
    *,
    ts_col: str,
    gap_ms: int,
) -> DataFrame:
    """Event-time session windows with a ``gap_ms`` inactivity timeout.

    Input must carry a watermark on ``ts_col`` (``withWatermark``).
    Events of one key whose timestamps are within ``gap_ms`` of each
    other belong to one session; a session is emitted as
    ``key..., session_start, session_end, n_events`` once the WATERMARK
    passes ``session_end + gap_ms`` — at the next batch carrying the
    key's data, or the event-time timeout, whichever comes first.

    **Event-time-correct under replay**: sessions are held in state
    until the watermark passes them, so a late event (within the
    watermark delay) arriving batches later still lands in its correct
    session — including merging into an island delivered earlier and
    bridging two previously separate sessions into one. This is the
    same closure contract as Spark's built-in ``session_window``; rows
    later than the watermark are merged best-effort rather than
    dropped.

    State per key = the open sessions inside the watermark horizon
    (parallel epoch-us arrays, bounded by delay/gap — NOT stream
    length), kept by ``applyInPandasWithState`` with an
    EventTimeTimeout.
    """
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in sdf.schema
        if f.name in key_cols
    )
    out_schema = f"{key_fields}, {SESSION_SCHEMA}"
    gap_us = gap_ms * 1000

    def emit(key, sessions) -> pd.DataFrame:
        starts, ends, ns = zip(*sessions)
        out = pd.DataFrame(
            {"session_start": [pd.Timestamp(s, unit="us") for s in starts],
             "session_end": [pd.Timestamp(e, unit="us") for e in ends],
             "n_events": list(ns)}
        )
        for name, val in reversed(list(zip(key_cols, key))):
            out.insert(0, name, val)
        return out

    def _split(merged, wm_ms):
        wm_us = wm_ms * 1000
        closed = [t for t in merged if t[1] + gap_us <= wm_us]
        keep = [t for t in merged if t[1] + gap_us > wm_us]
        return closed, keep

    def _store(state: GroupState, keep, wm_ms) -> None:
        if keep:
            state.update((
                [s for s, _, _ in keep],
                [e for _, e, _ in keep],
                [n for _, _, n in keep],
            ))
            # next closure deadline; must stay ahead of the watermark
            deadline = min(e for _, e, _ in keep) // 1000 + gap_ms
            state.setTimeoutTimestamp(max(deadline, wm_ms + 1))
        elif state.exists:
            state.remove()

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            starts, ends, ns = state.get
            closed, keep = _split(list(zip(starts, ends, ns)), wm_ms)
            _store(state, keep, wm_ms)
            if closed:
                yield emit(key, closed)
            return
        sessions = _batch_islands(pdfs, ts_col, gap_us)
        if state.exists:
            starts, ends, ns = state.get
            sessions += list(zip(starts, ends, ns))
        if not sessions:
            return
        closed, keep = _split(_merge_gap_sessions(sessions, gap_us), wm_ms)
        _store(state, keep, wm_ms)
        if closed:
            yield emit(key, closed)

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn,
        out_schema,
        _SESSIONS_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
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

    Runs on ``applyInPandasWithState`` + ProcessingTimeTimeout. The
    timeout is re-armed on EVERY invocation (Spark clears it each
    call), so a stale row extends the key's life.

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
